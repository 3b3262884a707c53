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
- **No collect()** anywhere in the data path; the only driver-side list
  is the pending-bucket id list (bounded by n_buckets).
"""
from __future__ import annotations

import base64
import json
import os
import re
import time
from typing import Iterator, Optional

import numpy as np
import pandas as pd

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
    # pruning domain or is all-null): plain long columns so a lookup's
    # range predicate is a parquet PushedFilter and row-group min/max
    # stats skip whole groups of blocks before any payload bytes are
    # read. Integral-domain keys (ints, date, bool, ts-as-micros) fill
    # key_lo/key_hi; string keys fill key_slo/key_shi (lexicographic).
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
        nbytes = int(sc.arrow_to_bytes(sc.to_string_array(a))[0].sum()) \
            if n else 0
        desc = {"k": kind, "c": d.codec_name}
        if nullable:
            desc["z"] = 1
        elif n and not text_hint:
            # lexicographic per-column zone stats (like the numeric
            # lo/hi/s) so scan_where/lookup_where prune string
            # predicates too; declared text (payload) columns skip —
            # min/max of prose isn't a useful pruning domain and the
            # strings would bloat the descriptor
            mm = pc.min_max(arr)
            # keep desc small: long bounds are widened, not dropped
            # (floor the low / ceil the high — still superset-safe)
            slo, shi = _str_bounds_capped(mm["min"].as_py(),
                                          mm["max"].as_py())
            if shi is not None:
                desc["slo"], desc["shi"] = slo, shi
        return (vblob + blob, desc, nbytes + 4 * n,
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
            import decimal as _dec
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
        # exact overflow-free sum, fully vectorized: split each value
        # into (v >> 32) and (v & 0xFFFFFFFF); each partial int64 sum
        # is safe for any block under 2^31 rows, and
        # (hi_sum << 32) + lo_sum reassembles the true sum in Python's
        # unbounded-int domain (two's-complement split identity)
        s_v = ((int((ints >> 32).sum(dtype=np.int64)) << 32)
               + int((ints & 0xFFFFFFFF).sum(dtype=np.int64)))
        d["lo"], d["hi"], d["s"] = lo_v, hi_v, s_v
    return (vblob + blob, d, width * n, desc.ref_total + len(vblob))


def _decode_column(blob: bytes, kind: str, n: int, arrow_type,
                   nullable: bool = False) -> "pa.Array":
    import pyarrow as pa
    import pyarrow.compute as pc

    if nullable:
        nb = (n + 7) // 8
        valid = np.unpackbits(np.frombuffer(blob[:nb], dtype=np.uint8),
                              count=n, bitorder="little").astype(bool)
        blob = blob[nb:]
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
        width = {K_I32: 4, K_DATE: 4, K_BOOL: 1, K_I8: 1, K_I16: 2} \
            .get(kind, 8)
        ints = ic.decode_block(blob, n, width=width)
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
# and probed JVM-side (substring/conv/getbit expressions over the
# small desc column) — no payload bytes and no Python before the
# surviving blocks decode. False positives only cost a wasted decode;
# false negatives cannot happen (every value, nulls filled, is hashed).

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
    shuffling the column: partition partials sum O(blocks x K) counter
    pairs, one final fold ranks. Estimates UNDERCOUNT only; rows out:
    (value, count_lo, count_hi) with true count in [count_lo,
    count_hi] (count_hi adds every block's residual bound). Raises at
    execution if any block lacks the summary. ``kind`` controls the
    output value type ("str" or "int")."""
    if k > _MG_K:
        raise ValueError(f"k must be <= {_MG_K}")
    st = _col_stats(col)
    rows = blocks.select(st["mg"].alias("mg"))
    part_schema = T.StructType([
        T.StructField("items", T.StringType()),
        T.StructField("rb", T.LongType()),
        T.StructField("missing", T.LongType())])

    def merge_series(series):
        acc: dict[str, int] = {}
        rb = 0
        missing = 0
        for s in series:
            if s is None:
                missing += 1
                continue
            d = json.loads(s)
            rb += int(d["rb"])
            for v, c in d["items"].items():
                acc[v] = acc.get(v, 0) + int(c)
        return acc, rb, missing

    def partial(batches):
        acc: dict[str, int] = {}
        rb = 0
        missing = 0
        for pdf in batches:
            a, r, miss = merge_series(pdf["mg"])
            rb += r
            missing += miss
            for v, c in a.items():
                acc[v] = acc.get(v, 0) + c
        # keep a bounded partial: top 4K counters travel, the rest
        # fold into the residual bound (their true counts are below
        # the cut everywhere they were dropped)
        keep = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))
        if len(keep) > 4 * _MG_K:
            rb += keep[4 * _MG_K][1]
            keep = keep[:4 * _MG_K]
        yield pd.DataFrame({"items": [json.dumps(dict(keep))],
                            "rb": [rb], "missing": [missing]})

    vtype = T.LongType() if kind == "int" else T.StringType()
    out_schema = T.StructType([
        T.StructField("value", vtype),
        T.StructField("count_lo", T.LongType()),
        T.StructField("count_hi", T.LongType())])

    def final(batches):
        acc: dict[str, int] = {}
        rb = 0
        missing = 0
        for pdf in batches:
            missing += int(pdf["missing"].sum())
            rb += int(pdf["rb"].sum())
            for s in pdf["items"]:
                for v, c in json.loads(s).items():
                    acc[v] = acc.get(v, 0) + int(c)
        if missing:
            raise ValueError(
                f"approx_topk({col!r}): {missing} blocks carry no "
                f"heavy-hitter summary — re-encode with "
                f"sketch_cols=[{col!r}]")
        top = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        vals = [int(v) if kind == "int" else v for v, _ in top]
        yield pd.DataFrame({"value": pd.Series(vals, dtype=object),
                            "count_lo": [c for _, c in top],
                            "count_hi": [c + rb for _, c in top]})

    return (rows.mapInPandas(partial, schema=part_schema)
            .repartition(1).mapInPandas(final, schema=out_schema))


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

    __slots__ = ("n", "_cols", "_payload", "_bytes")

    def __init__(self, desc, payload, n):
        if isinstance(desc, str):
            desc = json.loads(desc)
        self.n = int(n)
        self._cols = {d["n"]: d for d in desc["cols"]}
        self._payload = payload
        self._bytes = None

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
        if idxs is None:
            return _decode_column(self._blob(d), d["k"], self.n,
                                  arrow_type, nullable=bool(d.get("z")))
        return _column_at_indices(self._blob(d), d["k"], self.n,
                                  arrow_type, bool(d.get("z")), idxs)

    def batch(self, schema: "pa.Schema",
              idxs: Optional[np.ndarray] = None,
              passthrough: Optional[dict] = None) -> "pa.RecordBatch":
        """The block's rows (or rows ``idxs``) as ``schema``; fields
        named in ``passthrough`` are BLOCK-level values replicated onto
        every row instead of decoded columns."""
        import pyarrow as pa

        m = self.n if idxs is None else len(idxs)
        cols = [pa.repeat(passthrough[f.name], m).cast(f.type)
                if passthrough and f.name in passthrough
                else self.column(f.name, f.type, idxs)
                for f in schema]
        return pa.RecordBatch.from_arrays(cols, schema=schema)


def _read_blocks(batch) -> Iterator[_BlockReader]:
    """A reader per row of a blocks batch (``desc``/``payload``/``n``)."""
    descs = batch.column("desc").to_pylist()
    payloads = batch.column("payload")
    ns = batch.column("n").to_pylist()
    for i in range(batch.num_rows):
        yield _BlockReader(descs[i], payloads[i], ns[i])


def make_decode_fn(kinds: list[tuple[str, str]], arrow_schema_bytes: bytes,
                   passthrough: tuple[str, ...] = ()):
    """mapInArrow kernel: each encoded block row expands to its rows.
    No shuffle — blocks decode independently (SURVEY.md §3.2). The
    target arrow schema (incl. Spark's timestamp tz convention) is
    serialized on the driver and rebuilt in the worker.

    Projection pushdown: the kernel decodes ONLY the columns named in
    the target schema — each column's blob is located by its (offset,
    length) in the block descriptor, so unrequested columns' bytes are
    never touched (the block-format analogue of parquet column
    pruning).

    ``passthrough`` names BLOCK-level metadata columns (e.g. the
    streaming ``batch_id``) replicated onto every decoded row — the
    mechanism the merge-on-read reader uses to rank row versions."""

    def decode_blocks(batches) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        out_schema = pa.ipc.read_schema(pa.py_buffer(arrow_schema_bytes))
        for batch in batches:
            for i, blk in enumerate(_read_blocks(batch)):
                yield blk.batch(out_schema, passthrough={
                    p: batch.column(p)[i] for p in passthrough})

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
              columns: Optional[list[str]] = None,
              passthrough: Optional[list[str]] = None) -> DataFrame:
    """Decode the blocks table back to rows. ``columns`` selects a
    projection: only those columns' blobs are decoded (located by the
    descriptor offsets — the rest of each payload is never touched),
    so a 2-column read of a 50-column table pays for 2 columns.
    ``passthrough`` appends block-level metadata columns of the blocks
    table (e.g. ``batch_id``), replicated onto every decoded row."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if columns is not None:
        by_name = dict(schema_kinds)
        schema_kinds = [(c, by_name[c]) for c in columns]
    fields = [T.StructField(n, spark_type_of(k)) for n, k in schema_kinds]
    passthrough = tuple(passthrough or ())
    for p in passthrough:
        fields.append(T.StructField(p, blocks.schema[p].dataType))
    out_schema = T.StructType(fields)
    arrow_schema = to_arrow_schema(out_schema)
    fn = make_decode_fn(schema_kinds, arrow_schema.serialize().to_pybytes(),
                        passthrough=passthrough)
    return blocks.mapInArrow(fn, schema=out_schema)


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


def _overlap_cond(blocks: DataFrame, lo, hi):
    """Zone-map overlap predicate for [lo, hi] against the block bounds
    columns. NULL bounds mean "cannot prune" (a key type with no
    pruning domain, an all-null key block, or a legacy table whose
    fallback cast nulls out) and always KEEP the block — pruning is an
    optimization, never a correctness filter. String endpoints compare
    against the lexicographic key_slo/key_shi pair; integral endpoints
    against key_lo/key_hi (with the legacy key_min/key_max cast
    fallback)."""
    if isinstance(lo, str):
        if "key_slo" not in blocks.columns:
            return F.lit(True)  # legacy table: no string bounds
        cond = (F.col("key_slo") <= hi) & (F.col("key_shi") >= lo)
        return F.col("key_slo").isNull() | cond
    lo, hi = int(lo), int(hi)
    if "key_lo" in blocks.columns:
        cond = (F.col("key_lo") <= hi) & (F.col("key_hi") >= lo)
        return F.col("key_lo").isNull() | cond
    blo = F.col("key_min").try_cast("long")  # null (not error) if non-numeric
    bhi = F.col("key_max").try_cast("long")
    return blo.isNull() | bhi.isNull() | ((blo <= hi) & (bhi >= lo))


def _key_lit(schema_kinds: list[tuple[str, str]], key_col: str, v):
    """Row-level literal for a key bound: the prune domain is int64
    (epoch-micros for ts, days for date), but the decoded column keeps
    its logical type — convert the bound to match so the exact filter
    resolves."""
    kind = dict(schema_kinds)[key_col]
    if isinstance(v, str):
        return F.lit(v)
    if kind == K_TS:
        return F.timestamp_micros(F.lit(int(v)))
    if kind == K_DATE:
        return F.date_from_unix_date(F.lit(int(v)))
    if kind == K_BOOL:
        return F.lit(bool(v))
    if kind.startswith("dec("):
        import decimal as _dec
        p, s = kind[4:-1].split(",")
        # bounds arrive in the prune/stats domain = UNSCALED ints
        return F.lit(_dec.Decimal(int(v)).scaleb(-int(s))) \
                .cast(f"decimal({p},{s})")
    return F.lit(int(v))


def _int_domain_expr(kind: str, col):
    """Spark expression mapping a decoded logical column into its
    int64 codec/stats domain — the inverse of :func:`_key_lit`:
    epoch-micros for ts, unix-date days for date, exact unscaled ints
    for dec(p,s) (p <= 18 keeps them in int64). A plain cast('long')
    would disagree with the stored stats by 10^6 for timestamps
    (seconds vs micros), truncate decimals to their scaled value, and
    fail outright for dates."""
    if kind == K_TS:
        return F.unix_micros(col)
    if kind == K_DATE:
        return F.unix_date(col)
    if kind.startswith("dec("):
        s = int(kind[4:-1].split(",")[1])
        # v * 10^s is integral for scale-s decimals, so the long cast
        # is exact
        return (col * F.lit(10 ** s)).cast("long")
    return col.cast("long")


_AGG_BAD_KINDS = (K_STR, K_F64, K_F32, K_BIN)


def _check_agg_kind(op: str, kind: str) -> None:
    if kind in _AGG_BAD_KINDS or kind.startswith(("arr(", "bin")):
        raise ValueError(f"{op} aggregates integer-domain columns "
                         f"only, not kind {kind!r}")


def prune_blocks(blocks: DataFrame, value) -> DataFrame:
    """Zone-map block skip: drop blocks whose key bounds cannot contain
    the key — the analogue of the reference's metadata-pruned ``find``
    answering "not here" without touching the payload
    (`/root/reference/oroch/integer_array.h:71-136`, which prunes for
    any key type T). The bounds are plain long/string columns, so
    against a persisted blocks table this is a parquet PushedFilter:
    row-group min/max stats skip whole groups of blocks before any
    payload bytes leave disk. NULL bounds keep the block (see
    :func:`_overlap_cond`)."""
    return blocks.filter(_overlap_cond(blocks, value, value))


def prune_blocks_range(blocks: DataFrame, lo, hi) -> DataFrame:
    """Range variant of :func:`prune_blocks`: keep blocks whose bounds
    overlap [lo, hi] — pushed to the parquet scan of a persisted
    blocks table just like the point predicate."""
    return blocks.filter(_overlap_cond(blocks, lo, hi))


def prune_blocks_in(blocks: DataFrame, values) -> DataFrame:
    """IN-list variant: keep blocks whose bounds can contain ANY probe
    value. Small lists (<= 64) get the exact per-value OR — each term
    is the same pushable containment predicate as :func:`prune_blocks`
    — longer lists fall back to the coarse [min, max] envelope (still
    a superset: pruning never drops a matching block, the kernel's
    exact match does the rest)."""
    vals = sorted(set(values))
    if not vals:
        return blocks.filter(F.lit(False))
    if len(vals) > 64:
        return blocks.filter(_overlap_cond(blocks, vals[0], vals[-1]))
    cond = _overlap_cond(blocks, vals[0], vals[0])
    for v in vals[1:]:
        cond = cond | _overlap_cond(blocks, v, v)
    return blocks.filter(cond)


def range_scan(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
               key_col: str, lo, hi,
               columns: Optional[list[str]] = None) -> DataFrame:
    """Key-range scan against the blocks table: zone-map prune to
    overlapping blocks, decode (optionally a projection — the key
    column is added to the decode set and trimmed from the output if
    not requested), filter to the exact range. At scale this reads
    only the row groups whose key ranges overlap — the blocks-table
    analogue of partition pruning + parquet predicate pushdown."""
    decode_cols = columns
    if columns is not None and key_col not in columns:
        decode_cols = [key_col] + columns
    dec = decode_df(prune_blocks_range(blocks, lo, hi), schema_kinds,
                    columns=decode_cols)
    dec = dec.filter((F.col(key_col) >= _key_lit(schema_kinds, key_col, lo))
                     & (F.col(key_col) <= _key_lit(schema_kinds, key_col, hi)))
    if columns is not None and key_col not in columns:
        dec = dec.select(*columns)
    return dec


def _contained_cond(blocks: DataFrame, lo, hi):
    """True iff the block's key bounds are PROVABLY inside [lo, hi]
    (every row matches, metadata alone can answer aggregates). NULL or
    missing bounds coalesce to False — the block degrades to the
    boundary (decode) path, never to a wrong answer. Legacy tables
    without bounds columns treat every block as boundary."""
    if isinstance(lo, str):
        if "key_slo" not in blocks.columns:
            return F.lit(False)
        return F.coalesce((F.col("key_slo") >= lo)
                          & (F.col("key_shi") <= hi), F.lit(False))
    if "key_lo" not in blocks.columns:
        return F.lit(False)
    return F.coalesce((F.col("key_lo") >= int(lo))
                      & (F.col("key_hi") <= int(hi)), F.lit(False))


def range_count(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
                key_col: str, lo, hi) -> DataFrame:
    """COUNT(*) over a key range with aggregate pushdown to block
    metadata: blocks fully inside [lo, hi] contribute their stored row
    count ``n`` without ANY payload decode; only boundary blocks
    (range straddles the block bounds, or bounds are unknown) decode —
    and then only the key column, via the projection path. For a wide
    range over a big table, almost every surviving block is interior,
    so the count is answered from the manifest-grade metadata at
    parquet-scan speed."""
    if not isinstance(lo, str):
        lo, hi = int(lo), int(hi)
    ov = prune_blocks_range(blocks, lo, hi)
    inside = _contained_cond(ov, lo, hi)
    contained = ov.filter(inside).select(F.col("n").alias("_c"))
    partial = ov.filter(~inside)
    boundary = (decode_df(partial, schema_kinds, columns=[key_col])
                .filter((F.col(key_col) >= _key_lit(schema_kinds, key_col, lo))
                        & (F.col(key_col) <= _key_lit(schema_kinds, key_col, hi)))
                .select(F.lit(1).cast("long").alias("_c")))
    return (contained.unionByName(boundary)
            .agg(F.coalesce(F.sum("_c"), F.lit(0)).cast("long")
                 .alias("n_rows")))


_STATS_JSON_SCHEMA = T.StructType([T.StructField("cols", T.ArrayType(
    T.StructType([
        T.StructField("n", T.StringType()),
        T.StructField("lo", T.LongType()),
        T.StructField("hi", T.LongType()),
        T.StructField("s", T.LongType()),
        T.StructField("bm", T.StringType()),  # base64 Bloom bytes
        T.StructField("tbm", T.StringType()),  # base64 token Bloom
        T.StructField("slo", T.StringType()),  # lexicographic bounds
        T.StructField("shi", T.StringType()),
        T.StructField("z", T.IntegerType()),   # nullable flag
        T.StructField("nc", T.LongType()),     # exact null count
        T.StructField("hll", T.StringType()),  # base64 HLL registers
        T.StructField("qs", T.StringType()),   # base64 quantile summary
        T.StructField("qsf", T.StringType()),  # float quantile summary
        T.StructField("mg", T.StringType()),   # heavy-hitter summary
    ])))])


def range_agg(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
              key_col: str, lo, hi, agg_col: str) -> DataFrame:
    """SUM/MIN/MAX/COUNT of ``agg_col`` over a key range with aggregate
    pushdown to block metadata — the zone-map design extended from
    :func:`range_count` to value aggregates. Blocks PROVABLY inside
    [lo, hi] answer from the per-column (lo, hi, s) stats stored in the
    descriptor at encode time — no payload decode at all; boundary
    blocks (or blocks whose stats are absent: nullable column, legacy
    table, out-of-long sum) decode only (key_col, agg_col) via the
    projection path. One row out: (n_rows, sum_v, min_v, max_v), all
    in the int64 codec domain. At 100 TB a wide range is almost all
    interior blocks, so the answer streams from the parquet metadata
    columns at scan speed."""
    if not isinstance(lo, str):
        lo, hi = int(lo), int(hi)
    ov = prune_blocks_range(blocks, lo, hi)
    stats = _col_stats(agg_col)
    has_stats = (stats["lo"].isNotNull() & stats["hi"].isNotNull()
                 & stats["s"].isNotNull())
    inside = _contained_cond(ov, lo, hi) & has_stats
    interior = ov.filter(inside).select(
        F.col("n").alias("_c"), stats["s"].alias("_s"),
        stats["lo"].alias("_lo"), stats["hi"].alias("_hi"))
    partial = ov.filter(~inside)
    agg_kind = dict(schema_kinds)[agg_col]
    _check_agg_kind("range_agg", agg_kind)
    v = _int_domain_expr(agg_kind, F.col(agg_col))
    dec_cols = [key_col] if agg_col == key_col else [key_col, agg_col]
    boundary = (decode_df(partial, schema_kinds, columns=dec_cols)
                .filter((F.col(key_col) >= _key_lit(schema_kinds, key_col, lo))
                        & (F.col(key_col) <= _key_lit(schema_kinds, key_col, hi)))
                .select(F.lit(1).cast("long").alias("_c"), v.alias("_s"),
                        v.alias("_lo"), v.alias("_hi")))
    return (interior.unionByName(boundary).agg(
        F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_rows"),
        F.sum("_s").cast("long").alias("sum_v"),
        F.min("_lo").cast("long").alias("min_v"),
        F.max("_hi").cast("long").alias("max_v")))


def _col_stats(agg_col: str):
    """Stats struct of ``agg_col`` from the desc JSON; null when the
    column has no stored stats (legacy block) or is absent from the
    block entirely (schema evolution) — F.get, not [0], so the empty
    match is NULL instead of an ANSI index error."""
    return F.get(
        F.filter(F.from_json(F.col("desc"), _STATS_JSON_SCHEMA)["cols"],
                 lambda c: c["n"] == F.lit(agg_col)), 0)


def null_count(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
               col: str) -> DataFrame:
    """COUNT(*) WHERE ``col`` IS NULL, answered from block metadata:
    non-nullable blocks contribute 0, nullable blocks their exact
    stored ``nc`` (the validity bitmap already paid for the popcount
    at encode), and blocks written before the column existed (schema
    evolution) contribute their full row count — all without touching
    a payload byte. Only legacy nullable blocks lacking the stat
    decode, and then only ``col``. One row out: ``n_nulls``."""
    st = _col_stats(col)
    exact = (F.when(st.isNull(), F.col("n"))          # column absent
              .when(st["z"].isNull(), F.lit(0))       # non-nullable
              .otherwise(st["nc"]))                   # stored count
    interior = blocks.filter(exact.isNotNull()) \
        .select(exact.cast("long").alias("_c"))
    legacy = blocks.filter(exact.isNull())
    boundary = (decode_df(legacy, schema_kinds, columns=[col])
                .filter(F.col(col).isNull())
                .select(F.lit(1).cast("long").alias("_c")))
    return (interior.unionByName(boundary)
            .agg(F.coalesce(F.sum("_c"), F.lit(0)).cast("long")
                 .alias("n_nulls")))


def table_stats(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
                columns: Optional[list[str]] = None) -> DataFrame:
    """ANALYZE TABLE from block metadata alone: one row per column with
    the table's row count, exact null count, and global min/max — no
    payload byte is ever read. Integer-domain minima/maxima come from
    the per-block (lo, hi) stats (``min_long/max_long``, int64 codec
    domain: ts = epoch-micros, date = days), string columns from the
    lexicographic (slo, shi) pair (``min_str/max_str``). A NULL result
    means "not derivable from metadata" (declared text/payload columns,
    float/binary/array columns, legacy blocks) — the surface never
    silently falls back to a scan; decode-based stats are one
    ``decode_df`` away if a column needs them. Single metadata scan,
    one O(columns)-row exchange."""
    cols = [n for n, _ in schema_kinds] if columns is None else columns
    entries = []
    for c in cols:
        st = _col_stats(c)
        nulls = (F.when(st.isNull(), F.col("n"))       # column absent
                  .when(st["z"].isNull(), F.lit(0))    # non-nullable
                  .otherwise(st["nc"]))                # stored count
        entries.append(F.struct(
            F.lit(c).alias("col"), F.col("n").alias("n"),
            nulls.alias("nulls"), st["lo"].alias("lo"),
            st["hi"].alias("hi"), st["slo"].alias("slo"),
            st["shi"].alias("shi")))
    ex = blocks.select(F.explode(F.array(*entries)).alias("e")) \
        .select("e.*")

    def known(agg, src):
        # any block without the stat => the global value is unknown
        return F.when(F.max(F.col(src).isNull().cast("int")) == 1,
                      F.lit(None)).otherwise(agg)

    return ex.groupBy("col").agg(
        F.sum("n").cast("long").alias("n_rows"),
        known(F.sum("nulls"), "nulls").cast("long").alias("n_nulls"),
        known(F.min("lo"), "lo").cast("long").alias("min_long"),
        known(F.max("hi"), "hi").cast("long").alias("max_long"),
        known(F.min("slo"), "slo").alias("min_str"),
        known(F.max("shi"), "shi").alias("max_str"))


def approx_distinct(blocks: DataFrame, col: str) -> DataFrame:
    """APPROX COUNT(DISTINCT ``col``) from per-block HLL sketches alone
    (``sketch_cols`` at encode): registers merge by elementwise max —
    partition partials fold the kilobyte sketches locally, one final
    fold estimates. No payload byte is read; driver-side work is
    O(partitions x 2 KiB). Raises at execution if any block lacks the
    sketch (a silent fallback would quietly change the cost class).
    One row out: ``approx_ndv`` (stderr ~1.04/sqrt(2^_HLL_P) ~ 2.3%).
    """
    st = _col_stats(col)
    rows = blocks.select(st["hll"].alias("hll"))
    part_schema = T.StructType([
        T.StructField("regs", T.BinaryType()),
        T.StructField("missing", T.LongType())])
    m = 1 << _HLL_P

    def partial(batches):
        regs = np.zeros(m, dtype=np.uint8)
        missing = 0
        for pdf in batches:
            for s in pdf["hll"]:
                if s is None:
                    missing += 1
                    continue
                r = np.frombuffer(base64.b64decode(s), dtype=np.uint8)
                np.maximum(regs, r, out=regs)
        yield pd.DataFrame({"regs": [regs.tobytes()],
                            "missing": [missing]})

    def final(batches):
        regs = np.zeros(m, dtype=np.uint8)
        missing = 0
        for pdf in batches:
            missing += int(pdf["missing"].sum())
            for b in pdf["regs"]:
                np.maximum(regs, np.frombuffer(b, dtype=np.uint8),
                           out=regs)
        if missing:
            raise ValueError(
                f"approx_distinct({col!r}): {missing} blocks carry no "
                f"HLL sketch — re-encode with sketch_cols=[{col!r}]")
        yield pd.DataFrame({"approx_ndv": [_hll_estimate(regs)]})

    return (rows.mapInPandas(partial, schema=part_schema)
            .repartition(1).mapInPandas(final, schema="approx_ndv long"))


def _merge_qsummaries(points: list["np.ndarray"],
                      weights: list["np.ndarray"]
                      ) -> tuple["np.ndarray", "np.ndarray", float]:
    """Weighted merge of order-stat summaries, re-compressed to
    _QS_T+1 points at even cumulative-weight ranks. Returns
    (values, point_weights, total_weight)."""
    v = np.concatenate(points)
    w = np.concatenate(weights)
    order = np.argsort(v, kind="stable")
    v, w = v[order], w[order]
    cw = np.cumsum(w)
    total = float(cw[-1])
    targets = np.linspace(0.0, total, _QS_T + 1)
    idx = np.minimum(np.searchsorted(cw, targets, side="left"),
                     len(v) - 1)
    # point i sits at cumulative rank i*total/T: weight 0 for the min
    # point, total/T for each subsequent one, so a later fold's cumsum
    # reproduces the ranks these points were sampled at
    out_w = np.full(_QS_T + 1, total / _QS_T, dtype=np.float64)
    out_w[0] = 0.0
    return v[idx], out_w, total


def approx_quantile(blocks: DataFrame, col: str,
                    qs: list[float], kind: str = "int") -> DataFrame:
    """Approximate percentiles of an int-domain (``kind="int"``) or
    float (``kind="float"``) column from per-block order-statistic
    summaries (``sketch_cols`` at encode): each block stores T+1 exact
    order stats; the merge weighs each by its block's non-null count,
    partition partials re-compress to T+1 points, and the final fold
    reads values at the requested cumulative ranks. Rank error is
    bounded by ~N/T per merge level (~3% of N total at T=64) — no
    payload byte is read. Rows out: (q, value). Raises at execution if
    any block lacks the sketch; all-null/empty input yields NULL
    values.
    """
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile {q} outside [0,1]")
    if kind not in ("int", "float"):
        raise ValueError(f"kind must be 'int' or 'float', not {kind!r}")
    is_f = kind == "float"
    dt, vt = ("<f8", np.float64) if is_f else ("<i8", np.int64)
    st = _col_stats(col)
    rows = blocks.select(st["qsf" if is_f else "qs"].alias("qs"))
    part_schema = T.StructType([
        T.StructField("vals", T.BinaryType()),
        T.StructField("wts", T.BinaryType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("missing", T.LongType())])

    def decode_summaries(series):
        pts, wts = [], []
        missing = 0
        for s in series:
            if s is None:
                missing += 1
                continue
            a = np.frombuffer(base64.b64decode(s), dtype=dt)
            nn = int(a[0])
            if nn == 0:
                continue
            p = a[1:]
            pts.append(p.astype(vt))
            wts.append(np.full(len(p), nn / len(p), dtype=np.float64))
        return pts, wts, missing

    def partial(batches):
        pts, wts = [], []
        missing = 0
        for pdf in batches:
            p, w, miss = decode_summaries(pdf["qs"])
            pts += p
            wts += w
            missing += miss
        if not pts:
            yield pd.DataFrame({"vals": [b""], "wts": [b""],
                                "total": [0.0], "missing": [missing]})
            return
        v, w, total = _merge_qsummaries(pts, wts)
        yield pd.DataFrame({"vals": [v.astype(dt).tobytes()],
                            "wts": [w.astype("<f8").tobytes()],
                            "total": [total], "missing": [missing]})

    out_schema = T.StructType([
        T.StructField("q", T.DoubleType()),
        T.StructField("value",
                      T.DoubleType() if is_f else T.LongType())])
    qarr = [float(q) for q in qs]

    def final(batches):
        pts, wts = [], []
        missing = 0
        for pdf in batches:
            missing += int(pdf["missing"].sum())
            for vb, wb in zip(pdf["vals"], pdf["wts"]):
                if len(vb) == 0:
                    continue
                pts.append(np.frombuffer(vb, dtype=dt)
                           .astype(vt))
                wts.append(np.frombuffer(wb, dtype="<f8")
                           .astype(np.float64))
        if missing:
            raise ValueError(
                f"approx_quantile({col!r}): {missing} blocks carry no "
                f"quantile sketch — re-encode with sketch_cols=[{col!r}]")
        if not pts:
            yield pd.DataFrame({"q": qarr,
                                "value": [None] * len(qarr)})
            return
        v = np.concatenate(pts)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        v, w = v[order], w[order]
        cw = np.cumsum(w)
        total = cw[-1]
        idx = np.minimum(
            np.searchsorted(cw, np.asarray(qarr) * total, side="left"),
            len(v) - 1)
        yield pd.DataFrame({"q": qarr, "value": v[idx]})

    return (rows.mapInPandas(partial, schema=part_schema)
            .repartition(1).mapInPandas(final, schema=out_schema))


def with_stat_columns(blocks: DataFrame, cols: list[str]) -> DataFrame:
    """Materialize per-column (lo, hi) descriptor stats as top-level
    columns ``<c>__lo`` / ``<c>__hi`` — call before persisting a blocks
    table that will serve :func:`scan_where` predicates on those
    columns. Against the persisted table the secondary zone map then
    pushes to the parquet scan (row-group min/max stats skip whole
    groups of blocks on disk), exactly like the lead-key bounds."""
    for c in cols:
        st = _col_stats(c)
        blocks = (blocks.withColumn(f"{c}__lo", st["lo"])
                        .withColumn(f"{c}__hi", st["hi"]))
    return blocks


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
    The stats filter runs JVM-side on the small ``desc`` column before
    any payload reaches the Python decode kernel.

    String columns prune the same way via the lexicographic
    (slo, shi) per-column bounds (pass string ``lo``/``hi``); declared
    text/payload columns carry no bounds and degrade to a full scan."""
    blo, bhi, lo, hi = _where_bounds(blocks, col, lo, hi)
    keep = (blo.isNull() | bhi.isNull()
            | ((blo <= hi) & (bhi >= lo)))
    decode_cols = columns
    if columns is not None and col not in columns:
        decode_cols = [col] + columns
    dec = decode_df(blocks.filter(keep), schema_kinds,
                    columns=decode_cols)
    dec = dec.filter((F.col(col) >= _key_lit(schema_kinds, col, lo))
                     & (F.col(col) <= _key_lit(schema_kinds, col, hi)))
    if columns is not None and col not in columns:
        dec = dec.select(*columns)
    return dec


def _where_bounds(blocks: DataFrame, col: str, lo, hi):
    """(blo, bhi, lo, hi) for a secondary-column range predicate:
    lexicographic (slo, shi) stats for string bounds, per-column
    (lo, hi) stats — or their materialized pushable twins — for the
    integer domain."""
    if isinstance(lo, str):
        st = _col_stats(col)
        return st["slo"], st["shi"], lo, hi
    lo, hi = int(lo), int(hi)
    if f"{col}__lo" in blocks.columns:  # materialized: pushable
        return F.col(f"{col}__lo"), F.col(f"{col}__hi"), lo, hi
    st = _col_stats(col)
    return st["lo"], st["hi"], lo, hi


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
    blo, bhi, lo, hi = _where_bounds(blocks, col, lo, hi)
    keep = blo.isNull() | bhi.isNull() | ((blo <= hi) & (bhi >= lo))
    ov = blocks.filter(keep)
    inside = F.coalesce((blo >= lo) & (bhi <= hi), F.lit(False))
    contained = ov.filter(inside).select(F.col("n").alias("_c"))
    boundary = (decode_df(ov.filter(~inside), schema_kinds,
                          columns=[col])
                .filter((F.col(col) >= _key_lit(schema_kinds, col, lo))
                        & (F.col(col) <= _key_lit(schema_kinds, col, hi)))
                .select(F.lit(1).cast("long").alias("_c")))
    return (contained.unionByName(boundary)
            .agg(F.coalesce(F.sum("_c"), F.lit(0)).cast("long")
                 .alias("n_rows")))


def _multi_pred(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
                preds: list[tuple]):
    """(block_keep, block_inside, row_filter, pred_cols) for an AND of
    range predicates. keep/inside are JVM expressions over the desc
    stats; row_filter is the exact post-decode predicate."""
    keep = inside = row_f = None
    for col, lo, hi in preds:
        blo, bhi, lo, hi = _where_bounds(blocks, col, lo, hi)
        k = blo.isNull() | bhi.isNull() | ((blo <= hi) & (bhi >= lo))
        ins = F.coalesce((blo >= lo) & (bhi <= hi), F.lit(False))
        rf = ((F.col(col) >= _key_lit(schema_kinds, col, lo))
              & (F.col(col) <= _key_lit(schema_kinds, col, hi)))
        keep = k if keep is None else keep & k
        inside = ins if inside is None else inside & ins
        row_f = rf if row_f is None else row_f & rf
    return keep, inside, row_f, [c for c, _, _ in preds]


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
    pruning, never to a wrong answer (stat-less blocks are kept). One
    metadata filter, one decode of the surviving blocks."""
    keep, _inside, row_f, pred_cols = _multi_pred(blocks, schema_kinds,
                                                  preds)
    decode_cols = columns
    if columns is not None:
        decode_cols = list(dict.fromkeys(pred_cols + list(columns)))
    dec = decode_df(blocks.filter(keep), schema_kinds,
                    columns=decode_cols).filter(row_f)
    if columns is not None:
        dec = dec.select(*columns)
    return dec


def count_where_multi(blocks: DataFrame,
                      schema_kinds: list[tuple[str, str]],
                      preds: list[tuple]) -> DataFrame:
    """COUNT(*) under an AND of range predicates — the three-way
    metadata split of :func:`count_where` generalized: blocks every
    predicate fully contains contribute their stored row count with no
    payload decode, blocks any predicate excludes are pruned, and only
    straddlers decode (just the predicate columns). One row out:
    ``n_rows``."""
    keep, inside, row_f, pred_cols = _multi_pred(blocks, schema_kinds,
                                                 preds)
    ov = blocks.filter(keep)
    contained = ov.filter(inside).select(F.col("n").alias("_c"))
    boundary = (decode_df(ov.filter(~inside), schema_kinds,
                          columns=pred_cols)
                .filter(row_f)
                .select(F.lit(1).cast("long").alias("_c")))
    return (contained.unionByName(boundary)
            .agg(F.coalesce(F.sum("_c"), F.lit(0)).cast("long")
                 .alias("n_rows")))


def bloom_keep_cond(col: str, value, kind: str, field: str = "bm"):
    """JVM predicate: keep a block unless its stored Bloom filter for
    ``col`` PROVES ``value`` absent. The k probe hashes are computed
    once on the driver (same `_bloom_hash_vals` path as the build);
    each probe is pmod into the block's own filter size — exact for
    the power-of-two sizes `_bloom_build` emits, because the int64
    wrap (2^64) is 0 mod m — then a byte extract + bit test on the
    unbase64'd filter. Pure JVM expressions over the small desc
    column: no payload bytes move, no Python runs, blocks without a
    filter (legacy / not a bloom_col) are kept. ``field`` selects the
    descriptor filter: "bm" (value Bloom) or "tbm" (token Bloom)."""
    h1 = int(_bloom_hash_vals(value, kind)[0])
    h2 = int(_mix64(np.array([h1], dtype=np.uint64))[0])
    bm = _col_stats(col)[field]
    bloom = F.unbase64(bm)
    m_bits = (F.length(bloom) * F.lit(8)).cast("long")
    hit = None
    for i in range(_BLOOM_K):
        full = (h1 + i * h2) % (1 << 64)
        signed = full - (1 << 64) if full >= (1 << 63) else full
        pos = F.pmod(F.lit(signed), m_bits)
        byte_v = F.conv(
            F.hex(F.substring(bloom,
                              (F.shiftright(pos, 3) + F.lit(1)).cast("int"),
                              F.lit(1))), 16, 10).cast("int")
        bit = pos.bitwiseAND(F.lit(7)).cast("int")
        c = F.getbit(byte_v.cast("long"), bit) == F.lit(1)
        hit = c if hit is None else hit & c
    return bm.isNull() | hit


def bloom_might_contain(bm_b64: Optional[str], value, kind: str) -> bool:
    """Python-side probe of a block's stored Bloom filter — the same
    double-hash positions the JVM probe (:func:`bloom_keep_cond`)
    tests, for callers that hold the descriptor outside a Spark plan
    (the DataSource reader). Missing filter => True (cannot prune)."""
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
    keep = row_f = None
    for w in words:
        if not re.fullmatch("[0-9A-Za-z_]+", w):
            raise ValueError(f"grep_where: probe {w!r} is not a single "
                             "word token ([0-9A-Za-z_]+)")
        k = bloom_keep_cond(col, w, K_STR, field="tbm")
        rf = F.array_contains(
            F.split(F.coalesce(F.col(col), F.lit("")), _TOKEN_SPLIT_RE),
            w)
        keep = k if keep is None else keep & k
        row_f = rf if row_f is None else row_f & rf
    decode_cols = columns
    if columns is not None and col not in columns:
        decode_cols = [col] + columns
    dec = decode_df(blocks.filter(keep), schema_kinds,
                    columns=decode_cols).filter(row_f)
    if columns is not None and col not in columns:
        dec = dec.select(*columns)
    return dec


def lookup_where(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
                 col: str, value,
                 columns: Optional[list[str]] = None) -> DataFrame:
    """Point lookup on ANY column — not just the lead key — pruned by
    the per-block Bloom filter (:func:`bloom_keep_cond`) plus, for
    integer-domain columns, the per-column (lo, hi) zone stats. This
    is the missing third leg of the pruning stack: zone maps handle
    the sorted lead key (:func:`lookup`) and correlated secondary
    ranges (:func:`scan_where`); Blooms handle equality on
    high-cardinality columns uncorrelated with block order, where
    every block's [lo, hi] spans the domain and zone maps prune
    nothing. Surviving blocks run the lookup KERNEL on the probe
    column — dictionary-coded string blocks match against the
    dictionary alone, row strings of non-matching rows never
    materialize (`strings.str_block_eq_indices`) — and fetch only the
    requested columns at matched indices. ~2% false-positive probes
    at the default sizing; never a false negative."""
    from pyspark.sql.pandas.types import to_arrow_schema

    kind = dict(schema_kinds)[col]
    if kind not in (K_STR, K_I8, K_I16, K_I32, K_I64, K_TS, K_DATE,
                    K_BOOL):
        raise ValueError(f"lookup_where: column {col!r} kind {kind!r} "
                         "has no equality-probe domain (use a "
                         "string/integer-domain column)")
    keep = bloom_keep_cond(col, value, kind)
    st = _col_stats(col)
    if kind == K_STR:
        keep = keep & (st["slo"].isNull()
                       | ((st["slo"] <= value) & (st["shi"] >= value)))
        probe = str(value)
    else:
        v = int(value)
        keep = keep & (st["lo"].isNull()
                       | ((st["lo"] <= v) & (st["hi"] >= v)))
        probe = v
    decode_cols = columns
    if columns is not None and col not in columns:
        decode_cols = [col] + columns
    by_name = dict(schema_kinds)
    sel = schema_kinds if decode_cols is None \
        else [(c, by_name[c]) for c in decode_cols]
    out_schema = T.StructType(
        [T.StructField(n, spark_type_of(k)) for n, k in sel])
    fn = make_lookup_fn(schema_kinds, col, probe,
                        to_arrow_schema(out_schema)
                        .serialize().to_pybytes())
    dec = blocks.filter(keep).mapInArrow(fn, schema=out_schema)
    if columns is not None and col not in columns:
        dec = dec.select(*columns)
    return dec


_FETCH_WIDTHS = {K_I32: 4, K_I64: 8, K_TS: 8, K_DATE: 4, K_BOOL: 1,
                 K_I8: 1, K_I16: 2}


def _column_at_indices(blob: bytes, kind: str, n: int, arrow_type,
                       nullable: bool, idxs: np.ndarray) -> "pa.Array":
    """Values of one encoded column at row indices ``idxs`` — O(1)
    value-level ``fetch`` per index for fetchable integer codecs
    (`integers.py` fetch, mirroring `/root/reference/oroch/
    bitpck.h:203-225`), full-decode + take otherwise."""
    import pyarrow as pa

    if kind in _FETCH_WIDTHS and not nullable:
        w = _FETCH_WIDTHS[kind]
        vals = ic.fetch_many(blob, idxs, n, width=w)
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


def make_lookup_fn(kinds: list[tuple[str, str]], key_col: str, value,
                   arrow_schema_bytes: bytes):
    """mapInArrow kernel: per surviving block, decode ONLY the key
    column, locate matching row indices, then materialize the other
    columns at just those indices (value-level fetch for O(1)-codecs,
    one decode+take otherwise). Blocks without a match emit nothing.
    Integer-domain and string keys both supported (the reference's
    ``find`` is generic over T, `integer_array.h:192-208`).

    ``value`` may be a scalar or a LIST of scalars (the IN-list form):
    a block's key column decodes once and every probe value matches
    against it, so a k-key batch fetch costs one decode per surviving
    block — not k.

    The output schema may be a PROJECTION (any subset of the table's
    columns, the probe column included or not): only the named
    columns' payload slices are touched. Single-value probes on
    non-nullable string columns match dictionary-coded blocks against
    the dictionary alone (`strings.str_block_eq_indices`) — the row
    strings never materialize."""
    kind_of = dict(kinds)
    values = value if isinstance(value, (list, tuple)) else [value]

    def lookup_blocks(batches) -> "Iterator[pa.RecordBatch]":
        import pyarrow as pa
        import pyarrow.compute as pc

        out_schema = pa.ipc.read_schema(pa.py_buffer(arrow_schema_bytes))
        key_str = kind_of[key_col] == K_STR
        probes = [str(v) if key_str else int(v) for v in values]
        probe_set = pa.array(probes,
                             type=pa.string() if key_str else pa.int64())
        for batch in batches:
            for blk in _read_blocks(batch):
                kb = blk.str_blob(key_col) if key_str else None
                if kb is not None:
                    # dictionary-aware (scalar and IN forms): dict/RLE
                    # blocks match the dictionary and never rebuild
                    # row strings
                    idxs = sc.str_block_eq_indices(kb, blk.n, probes)
                else:
                    # Arrow-side equality: a NULLABLE int64 column
                    # would to_numpy() into float64, whose 53-bit
                    # mantissa collapses distinct keys above 2^53
                    # into false equality matches. A block predating
                    # the probe column reads all-null: no match.
                    keys = blk.column(key_col, probe_set.type)
                    eq = pc.is_in(keys, value_set=probe_set)
                    idxs = np.flatnonzero(
                        pc.fill_null(eq, False)
                        .to_numpy(zero_copy_only=False))
                if len(idxs):
                    yield blk.batch(out_schema, idxs)

    return lookup_blocks


def lookup(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
           key_col: str, value) -> DataFrame:
    """Point lookup against the PERSISTED blocks table (no re-encode):
    metadata pruning first (:func:`prune_blocks`), then the surviving
    blocks decode only the key column and fetch matched rows — the
    full Spark analogue of ``integer_array::find`` / ``at``
    (`/root/reference/oroch/integer_array.h:166-208`). ``value`` may be
    an int (integer-domain keys, incl. ts-as-micros/date-as-days) or a
    str (string keys, pruned lexicographically)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(value, str):
        value = int(value)
    out_schema = T.StructType(
        [T.StructField(n, spark_type_of(k)) for n, k in schema_kinds])
    arrow_schema = to_arrow_schema(out_schema)
    fn = make_lookup_fn(schema_kinds, key_col, value,
                        arrow_schema.serialize().to_pybytes())
    return prune_blocks(blocks, value).mapInArrow(fn, schema=out_schema)


def lookup_in(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
              key_col: str, values) -> DataFrame:
    """Batched IN-list point lookup: fetch the rows of MANY keys in one
    pass over the persisted blocks table. Pruning keeps blocks whose
    bounds can contain any probe value (:func:`prune_blocks_in`,
    parquet-pushable for small lists); each surviving block decodes
    its key column ONCE and matches the whole probe set against it
    (np.isin / Arrow is_in), so the cost is O(surviving blocks), not
    O(keys x blocks). Extension beyond the reference's single-value
    ``find`` (`integer_array.h:192-208`) — the shape an analyst's
    batch entity-fetch takes at 100 TB."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    values = [v if isinstance(v, str) else int(v) for v in values]
    if not values:
        raise ValueError("lookup_in needs at least one probe value")
    if len({type(v) for v in values}) > 1:
        raise ValueError("lookup_in probe values must share one type")
    out_schema = T.StructType(
        [T.StructField(n, spark_type_of(k)) for n, k in schema_kinds])
    arrow_schema = to_arrow_schema(out_schema)
    fn = make_lookup_fn(schema_kinds, key_col, list(values),
                        arrow_schema.serialize().to_pybytes())
    return prune_blocks_in(blocks, values).mapInArrow(fn,
                                                      schema=out_schema)


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


def _group_partial(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
                   col: str) -> DataFrame:
    from pyspark.sql.pandas.types import to_arrow_schema

    kind = dict(schema_kinds)[col]
    out_schema = T.StructType([T.StructField(col, spark_type_of(kind)),
                               T.StructField("n_rows", T.LongType())])
    arrow_schema = to_arrow_schema(out_schema)
    fn = make_group_count_fn(col, arrow_schema.serialize().to_pybytes())
    return blocks.mapInArrow(fn, schema=out_schema)


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
    GROUP BY an analyst runs daily at 100 TB."""
    return (_group_partial(blocks, schema_kinds, col)
            .groupBy(col)
            .agg(F.sum("n_rows").cast("long").alias("n_rows")))


def distinct_values(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
                    col: str) -> DataFrame:
    """SELECT DISTINCT ``col`` with the same codec pushdown as
    :func:`group_count`: dictionary-coded blocks contribute exactly
    their (referenced) dictionary entries — for a dict/RLE-coded
    column the distinct set streams out of block metadata-sized
    dictionaries and the row payload is never expanded."""
    return (_group_partial(blocks, schema_kinds, col)
            .select(col).distinct())


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
    aggs = [F.sum("n_rows").cast("long").alias("n_rows")]
    if agg_col:
        aggs += [F.sum("sum_v").cast("long").alias("sum_v"),
                 F.min("min_v").cast("long").alias("min_v"),
                 F.max("max_v").cast("long").alias("max_v")]
    return partial.groupBy(*group_cols).agg(*aggs)


def agg_where(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
              col: str, lo, hi, agg_col: str) -> DataFrame:
    """SUM/MIN/MAX/COUNT of ``agg_col`` under a range predicate on ANY
    stats-carrying column — :func:`range_agg` (key-range aggregates)
    crossed with :func:`count_where` (secondary-column predicates).
    Blocks whose per-column (lo, hi) stats for the PREDICATE column
    prove every row matches answer from the AGGREGATE column's stored
    (lo, hi, s) stats with no payload decode; blocks whose stats prove
    no row matches are pruned JVM-side; only straddling blocks (or
    blocks missing either stat) decode — and only (col, agg_col). One
    row out: (n_rows, sum_v, min_v, max_v) in the int64 codec domain.
    On a predicate correlated with block order a wide range is almost
    all interior blocks — answered at desc-scan speed."""
    blo, bhi, lo, hi = _where_bounds(blocks, col, lo, hi)
    keep = blo.isNull() | bhi.isNull() | ((blo <= hi) & (bhi >= lo))
    ov = blocks.filter(keep)
    stats = _col_stats(agg_col)
    has_stats = (stats["lo"].isNotNull() & stats["hi"].isNotNull()
                 & stats["s"].isNotNull())
    inside = (F.coalesce((blo >= lo) & (bhi <= hi), F.lit(False))
              & has_stats)
    interior = ov.filter(inside).select(
        F.col("n").alias("_c"), stats["s"].alias("_s"),
        stats["lo"].alias("_lo"), stats["hi"].alias("_hi"))
    agg_kind = dict(schema_kinds)[agg_col]
    _check_agg_kind("agg_where", agg_kind)
    v = _int_domain_expr(agg_kind, F.col(agg_col))
    dec_cols = [col] if agg_col == col else [col, agg_col]
    boundary = (decode_df(ov.filter(~inside), schema_kinds,
                          columns=dec_cols)
                .filter((F.col(col) >= _key_lit(schema_kinds, col, lo))
                        & (F.col(col) <= _key_lit(schema_kinds, col, hi)))
                .select(F.lit(1).cast("long").alias("_c"), v.alias("_s"),
                        v.alias("_lo"), v.alias("_hi")))
    return (interior.unionByName(boundary).agg(
        F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_rows"),
        F.sum("_s").cast("long").alias("sum_v"),
        F.min("_lo").cast("long").alias("min_v"),
        F.max("_hi").cast("long").alias("max_v")))


# lookup_join block-prune grid: the bucket width is the AVERAGE block
# bound span, so a typical block covers 1-2 buckets; a block spanning
# more than _LJ_SPAN_CAP buckets (an outlier interleaving most of the
# key domain — it overlaps nearly any probe anyway) skips the prune
# and is kept unconditionally, bounding the explode at O(blocks x
# small-constant).
_LJ_SPAN_CAP = 64
# Below this many blocks the grid's three extra exchanges cost more
# than they save: a direct range-condition semi-join (a nested loop,
# but over <=1024 METADATA rows x broadcast keys) is strictly cheaper,
# so tiny tables keep the low-latency plan and the grid engages where
# the nested loop would actually hurt (10^6+ blocks at 100 TB).
_LJ_GRID_MIN_BLOCKS = 1024
# planning-aggregate memo, keyed by the metadata plan's semantic hash:
# bounds stats of an immutable blocks table don't change between
# lookup_join calls. Staleness (same path re-read after an append) can
# only cost prune quality, never correctness — the grid math is
# self-consistent for ANY (origin, width): both sides bucket with the
# same formula and the containment residual is exact. Bounded; cleared
# wholesale when full.
_LJ_AGG_CACHE: dict = {}


def _str_surrogate(c: "F.Column") -> "F.Column":
    """Order-preserving int64 surrogate of a string: the first 7 UTF-8
    bytes, zero-padded, read big-endian. Monotone w.r.t. the UTF-8
    binary order Spark compares strings in (fixed-width BE prefix), so
    bucket(surr(lo)) <= bucket(surr(k)) <= bucket(surr(hi)) whenever
    lo <= k <= hi — prefix collisions only widen the candidate set."""
    return F.conv(F.rpad(F.hex(F.substring(c.cast("binary"), 1, 7)),
                         14, "0"), 16, 10).cast("long")


def _scan_rows_hint(df: DataFrame) -> Optional[int]:
    """Driver-side row-count hint for a parquet-scan DataFrame: the sum
    of footer row counts of its input files (exact for a bare scan, an
    upper bound if the plan filters rows). None when the plan has no
    parquet inputs or the footers can't be read — callers must treat
    that as "unknown", never as zero."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    import pyarrow.parquet as pq

    total = 0
    for f in files:
        if f.startswith("file:"):
            f = f[len("file:"):]
            while f.startswith("//"):
                f = f[1:]
        if not f.endswith(".parquet") or not os.path.exists(f):
            return None
        try:
            total += pq.ParquetFile(f).metadata.num_rows
        except Exception:
            return None
    return total


def _bucketed_block_prune(blocks: DataFrame, bounds: tuple[str, str],
                          kind: str, probe: DataFrame,
                          k_dom: "F.Column",
                          grid_min_blocks: int = _LJ_GRID_MIN_BLOCKS
                          ) -> DataFrame:
    """Keep the blocks whose zone-bound interval may contain a probe
    key. Large tables (>= ``grid_min_blocks`` blocks) use an EQUI-join
    on coarse key-domain buckets (the containment check is the
    residual condition of a BroadcastHashJoin — never a nested loop
    over O(blocks x keys)); tiny tables keep the direct
    range-condition semi-join, whose nested loop over metadata rows is
    cheaper than the grid's extra exchanges. See lookup_join."""
    blo, bhi = F.col(bounds[0]), F.col(bounds[1])
    # strategy choice first, and as cheaply as possible: when the
    # blocks DF is a file scan, the row count comes off the parquet
    # footers driver-side (an UPPER bound if the plan filters rows —
    # over-choosing the grid costs latency, never correctness) and the
    # small-table path pays NO planning job at all
    nb_hint = _scan_rows_hint(blocks)
    kd = F.col("_kd")
    direct = lambda: blocks.join(
        F.broadcast(probe.select(k_dom.alias("_kd"))),
        blo.isNull() | ((blo <= kd) & (bhi >= kd)), "left_semi")
    if nb_hint is not None and nb_hint < grid_min_blocks:
        return direct()
    if kind == K_STR:
        blo_s, bhi_s = _str_surrogate(blo), _str_surrogate(bhi)
        k_surr = _str_surrogate(k_dom)
    else:
        blo_s, bhi_s, k_surr = blo, bhi, k_dom
    meta = blocks.select(
        "bucket", "block_idx", blo.alias("_lo"), bhi.alias("_hi"),
        blo_s.alias("_los"), bhi_s.alias("_his"))
    # memoize the planning aggregate per blocks PLAN: repeated
    # lookup_joins against the same (e.g. persisted, footer-less)
    # table pay the metadata job once, not per call
    try:
        ck = (meta._jdf.queryExecution().analyzed().semanticHash(),
              bounds, kind)
    except Exception:
        ck = None
    if ck is not None and ck in _LJ_AGG_CACHE:
        g = _LJ_AGG_CACHE[ck]
    else:
        g = meta.agg(F.min("_los").alias("a"),
                     F.max("_his").alias("b"),
                     F.avg(F.col("_his") - F.col("_los")).alias("s"),
                     F.count(F.lit(1)).alias("nb")).first()
        if ck is not None:
            if len(_LJ_AGG_CACHE) >= 64:
                _LJ_AGG_CACHE.clear()
            _LJ_AGG_CACHE[ck] = g
    if g is not None and int(g["nb"] or 0) < grid_min_blocks:
        return direct()
    if g is None or g["a"] is None or g["b"] is None \
            or int(g["b"]) - int(g["a"]) >= (1 << 62):
        # no usable bounds anywhere (or a pathological span that would
        # overflow the shifted grid): pruning is an optimization only
        return blocks
    a = int(g["a"])
    w = max(1, int(g["s"]) + 1)
    bkt = lambda c: F.expr(f"(({c}) - {a}L) div {w}L")
    spanned = meta.withColumn("_b0", bkt("_los")) \
                  .withColumn("_b1", bkt("_his"))
    prunable = (F.col("_b0").isNotNull() & F.col("_b1").isNotNull()
                & (F.col("_b1") - F.col("_b0") < _LJ_SPAN_CAP))
    probe_b = F.broadcast(
        probe.select(k_dom.alias("_kd"), k_surr.alias("_ks"))
             .withColumn("_kbkt", bkt("_ks")))
    ids = (spanned.where(prunable)
           .withColumn("_bkt", F.explode(F.sequence("_b0", "_b1")))
           .join(probe_b, (F.col("_bkt") == F.col("_kbkt"))
                 & (F.col("_lo") <= F.col("_kd"))
                 & (F.col("_hi") >= F.col("_kd")), "left_semi")
           .select("bucket", "block_idx"))
    keep_all = spanned.where(~prunable | prunable.isNull()) \
        .select("bucket", "block_idx")
    cand_ids = ids.union(keep_all).distinct()
    return blocks.join(F.broadcast(cand_ids),
                       ["bucket", "block_idx"], "left_semi")


def lookup_join(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
                key_col: str, keys: DataFrame,
                columns: Optional[list[str]] = None,
                grid_min_blocks: int = _LJ_GRID_MIN_BLOCKS) -> DataFrame:
    """Distributed IN: fetch the rows whose lead key appears in a keys
    DATAFRAME — :func:`lookup_in` without ever collecting the probe set
    to the driver. Two broadcast joins, zero shuffles of table data:

    1. *block prune*: the (deduplicated, broadcast) keys range-join the
       block metadata on the zone bounds (``key_lo <= k <= key_hi``,
       lexicographic ``key_slo/key_shi`` for string keys); a left-semi
       join keeps each candidate block once however many keys it may
       hold. NULL bounds keep the block — pruning is never a
       correctness filter.
    2. *exact match*: surviving blocks decode (only ``columns`` +
       the key), then a broadcast left-semi join on the decoded key
       keeps exactly the probed rows.

    The probe side must be broadcastable (an entity list, not a second
    fact table — for fact-to-fact joins decode and use a regular join).
    The keys column must have the key's type; integer-domain keys
    compare in the int64 codec domain (ts as epoch-micros, date as
    days — the same domain the bounds are stored in).

    The block prune is SIZE-GATED (``grid_min_blocks``): at or above
    the gate, probe keys and block bound intervals are both mapped to
    COARSE BUCKETS of a shared key-domain grid (string keys through an
    order-preserving 7-byte big-endian prefix surrogate), the bucket
    is the equi key of a BroadcastHashJoin and the true containment
    check rides along as the residual condition, so the prune costs
    O(blocks x spanned_buckets) hash probes instead of O(blocks x
    keys) comparisons — the 100 TB path (10^7 blocks x 10^5 keys
    would be 10^12 nested-loop compares). Wide blocks (> _LJ_SPAN_CAP
    buckets — they overlap nearly any probe anyway) and blocks
    without bounds skip straight to the candidate set; the walk runs
    on a metadata projection, reduces to a (bucket, block_idx)
    candidate-id set, and joins back broadcast, so the blocks table
    itself never shuffles. BELOW the gate the direct range-condition
    semi-join wins: its nested loop touches <= grid_min_blocks
    metadata rows and costs no extra exchange — strategy switching by
    table size, the same move AQE makes for joins."""
    kind = dict(schema_kinds)[key_col]
    if kind not in (K_STR, K_TS, K_DATE, K_I8, K_I16, K_I32, K_I64,
                    K_BOOL):
        raise ValueError(
            f"lookup_join does not support lead-key kind {kind!r}")
    bounds = ("key_slo", "key_shi") if kind == K_STR \
        else ("key_lo", "key_hi")
    probe = F.broadcast(keys.select(keys.columns[0])
                        .withColumnRenamed(keys.columns[0], "_probe_k")
                        .distinct())
    kc = F.col("_probe_k")
    k_dom = {K_STR: kc.cast("string"),
             K_TS: F.unix_micros(kc.cast("timestamp")),
             K_DATE: F.datediff(kc.cast("date"), F.lit("1970-01-01"))
             }.get(kind, kc.cast("long"))
    cand = _bucketed_block_prune(blocks, bounds, kind, probe, k_dom,
                                 grid_min_blocks) \
        if bounds[0] in blocks.columns else blocks
    decode_cols = columns
    if columns is not None and key_col not in columns:
        decode_cols = [key_col] + columns
    dec = decode_df(cand, schema_kinds, columns=decode_cols)
    out = dec.join(probe, dec[key_col] == F.col("_probe_k"), "left_semi")
    if columns is not None and key_col not in columns:
        out = out.select(*columns)
    return out


def topk_key(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
             key_col: str, k: int, ascending: bool = False,
             columns: Optional[list[str]] = None) -> DataFrame:
    """ORDER BY lead key LIMIT k with zone-map pruning: decode only the
    blocks that can contribute to the top k. The prune is
    overlap-safe — it never assumes blocks are disjoint or sorted:
    within each bucket, walk blocks by ``key_lo`` DESC and find the
    smallest prefix whose row counts sum to >= k; every row of every
    prefix block has key >= its block's key_lo >= t (t = the prefix's
    minimum key_lo), so any block with ``key_hi < t`` provably has k
    rows above it and is skipped. Degenerate layouts (nulls in bounds,
    fewer than k rows) keep everything. The decode then feeds Spark's
    TakeOrderedAndProject — per-partition partial top-k, no global
    sort. (Ascending mirrors with the bounds swapped and negated.)"""
    if dict(schema_kinds)[key_col] == K_STR:
        lo_c, hi_c = F.col("key_slo"), F.col("key_shi")
        have = "key_slo" in blocks.columns
    else:
        lo_c, hi_c = F.col("key_lo"), F.col("key_hi")
        have = "key_lo" in blocks.columns
    if have:
        from pyspark.sql import Window

        # The prefix walk runs over a METADATA-ONLY projection (bounds
        # + row counts; parquet column pruning keeps payload bytes on
        # disk), reduces to ONE (t, enough) row per bucket, and joins
        # back broadcast — the blocks table itself never shuffles.
        meta = blocks.select("bucket", "n", lo_c.alias("_lo"),
                             hi_c.alias("_hi"))
        if not ascending:
            w = Window.partitionBy("bucket") \
                .orderBy(F.col("_lo").desc_nulls_last())
        else:
            meta = blocks.select("bucket", "n", hi_c.alias("_lo"),
                                 lo_c.alias("_hi"))
            w = Window.partitionBy("bucket") \
                .orderBy(F.col("_lo").asc_nulls_last())
        prev = F.coalesce(
            F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0))
        pref_lo = F.when(F.col("_pref"), F.col("_lo"))
        th = (meta.withColumn("_prev", prev)
              .withColumn("_pref",
                          (F.col("_prev") < k) & F.col("_lo").isNotNull())
              .groupBy("bucket")
              .agg((F.min(pref_lo) if not ascending
                    else F.max(pref_lo)).alias("_t"),
                   # fewer than k rows in the bucket => keep everything
                   (F.max(F.when(F.col("_pref"),
                                 F.col("_prev") + F.col("n"))) >= k)
                   .alias("_enough")))
        blocks = blocks.join(F.broadcast(th), "bucket", "left")
        # desc: skip B iff k rows are provably above it (key_hi < t);
        # asc: skip B iff k rows are provably below it (key_lo > t)
        edge = lo_c if ascending else hi_c
        keep = (edge.isNull() | F.col("_t").isNull()
                | ~F.coalesce(F.col("_enough"), F.lit(False))
                | (edge >= F.col("_t") if not ascending
                   else edge <= F.col("_t")))
        blocks = blocks.filter(keep).drop("_t", "_enough")
    decode_cols = columns
    if columns is not None and key_col not in columns:
        decode_cols = [key_col] + columns
    dec = decode_df(blocks, schema_kinds, columns=decode_cols)
    order = F.col(key_col).asc() if ascending else F.col(key_col).desc()
    out = dec.orderBy(order).limit(k)
    if columns is not None and key_col not in columns:
        out = out.select(*columns)
    return out


def topk_by(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
            col: str, k: int, ascending: bool = False,
            columns: Optional[list[str]] = None) -> DataFrame:
    """ORDER BY any stats-carrying column LIMIT k — :func:`topk_key`'s
    overlap-safe block-prefix rule driven by the per-column (lo, hi)
    descriptor stats instead of the lead-key bounds, so "latest k by
    ts" over an id-keyed table decodes only the blocks that can
    contribute (exactly as prunable as the column is correlated with
    block order; uncorrelated columns degrade to a full scan — never a
    wrong answer). The walk runs on a metadata projection reduced to
    one threshold row per bucket; payloads never shuffle."""
    st = _col_stats(col)
    meta = blocks.select("bucket", "n",
                         (st["lo"] if not ascending
                          else st["hi"]).alias("_lo"),
                         (st["hi"] if not ascending
                          else st["lo"]).alias("_hi"))
    from pyspark.sql import Window

    order = (F.col("_lo").desc_nulls_last() if not ascending
             else F.col("_lo").asc_nulls_last())
    w = Window.partitionBy("bucket").orderBy(order)
    prev = F.coalesce(
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0))
    pref_lo = F.when(F.col("_pref"), F.col("_lo"))
    th = (meta.withColumn("_prev", prev)
          .withColumn("_pref",
                      (F.col("_prev") < k) & F.col("_lo").isNotNull())
          .groupBy("bucket")
          .agg((F.min(pref_lo) if not ascending
                else F.max(pref_lo)).alias("_t"),
               (F.max(F.when(F.col("_pref"),
                             F.col("_prev") + F.col("n"))) >= k)
               .alias("_enough")))
    edge = st["lo"] if ascending else st["hi"]
    kept = blocks.join(F.broadcast(th), "bucket", "left")
    keep = (edge.isNull() | F.col("_t").isNull()
            | ~F.coalesce(F.col("_enough"), F.lit(False))
            | (edge >= F.col("_t") if not ascending
               else edge <= F.col("_t")))
    kept = kept.filter(keep).drop("_t", "_enough")
    decode_cols = columns
    if columns is not None and col not in columns:
        decode_cols = [col] + columns
    dec = decode_df(kept, schema_kinds, columns=decode_cols)
    order = F.col(col).asc() if ascending else F.col(col).desc()
    out = dec.orderBy(order).limit(k)
    if columns is not None and col not in columns:
        out = out.select(*columns)
    return out


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
