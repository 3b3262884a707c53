"""Layer probes for the traced run: fixed-shape measurements of one
layer at a time, through the program's own functions, on inputs made
from the run's seed. Each returns plain numbers; nothing here is timed
as an op."""
from __future__ import annotations

import glob
import os
import time
from statistics import median

import numpy as np
import pyarrow.parquet as pq

import inputs

PROBE_BLOCK_ROWS = 65536
TRANSCRIPT_TEXT_COLS = frozenset(["text"])


def _median_ms(fn, reps: int) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append((time.perf_counter() - t0) * 1000.0)
    return median(ts)


def column_kernels(seed: int, reps: int = 3) -> dict[str, float]:
    """Per-column encode/decode ms and whole-block ms of one
    65,536-row transcript block (the engine's block size)."""
    from oroch_spark import engine

    tbl = inputs.transcript_table(seed, PROBE_BLOCK_ROWS)
    kinds = engine.arrow_column_kinds(tbl.schema)
    out = {}
    enc_total = 0.0
    for name, kind in kinds:
        arr = tbl.column(name).combine_chunks()
        text = name in TRANSCRIPT_TEXT_COLS
        blob, _, _, _ = engine._encode_column(arr, kind, text, name=name)
        ms = _median_ms(lambda: engine._encode_column(arr, kind, text,
                                                      name=name), reps)
        out[f"kernels.encode_ms.{name}"] = ms
        enc_total += ms
        out[f"kernels.decode_ms.{name}"] = _median_ms(
            lambda: engine._decode_column(blob, kind, len(arr), arr.type),
            reps)
    block = _median_ms(lambda: engine._encode_chunk(
        tbl, 0, 0, kinds, inputs.TRANSCRIPT_KEYS, TRANSCRIPT_TEXT_COLS),
        reps)
    out["engine.block_encode_ms"] = block
    out["engine.assembly_ms"] = block - enc_total
    return out


def micro_shapes(reps: int = 5) -> dict[str, float]:
    """The reference library's three micro-benchmark shapes."""
    from oroch_spark.kernels import integers as ic

    n = 10_000_000
    buf = ic.varint_encode(np.arange(n, dtype=np.uint64))
    varint_ms = _median_ms(lambda: ic.varint_decode(buf, n), reps)

    group = np.arange(1000, dtype=np.int64) + 1000
    gblob = ic.encode_block(group)
    if ic.describe_block(gblob, 1000).codec_name != "bitfor":
        raise RuntimeError("group shape no longer selects bitfor")
    group_ms = _median_ms(lambda: ic.decode_block(gblob, 1000), 50)

    # find over 10,000 sorted ints: vectorized binary search that
    # reads the encoded block only through fetch_many; half the probes
    # hit (even values), half miss (odd values)
    size = 10_000
    vals = np.arange(size, dtype=np.int64) * 2
    ablob = ic.encode_block(vals)
    rng = np.random.default_rng(0)
    probes = rng.integers(0, 2 * size, 1000)

    def find():
        lo = np.zeros(len(probes), dtype=np.int64)
        hi = np.full(len(probes), size, dtype=np.int64)
        while (lo < hi).any():
            mid = (lo + hi) // 2
            v = ic.fetch_many(ablob, np.minimum(mid, size - 1), size)
            go_right = (v < probes) & (lo < hi)
            lo = np.where(go_right, mid + 1, lo)
            hi = np.where(~go_right & (lo < hi), mid, hi)
        found = ic.fetch_many(ablob, np.minimum(lo, size - 1), size)
        return (lo < size) & (found == probes)

    if find().sum() != (probes % 2 == 0).sum():
        raise RuntimeError("find over fetch_many gave a wrong answer")
    find_ms = _median_ms(find, reps)
    return {
        "kernels.varint_decode_mvals_s": n / (varint_ms / 1000.0) / 1e6,
        "kernels.group_decode_us": group_ms * 1000.0,
        "kernels.find_us": find_ms * 1000.0 / len(probes),
    }


def parquet_source_read_ms(src: str, reps: int = 3) -> float:
    """pyarrow ``iter_batches`` over the source file, or the files of a
    source directory, at the encode path's batch size."""
    files = sorted(glob.glob(f"{src}/*.parquet")) if os.path.isdir(src) \
        else [src]

    def read():
        for f in files:
            for _ in pq.ParquetFile(f).iter_batches(batch_size=16384):
                pass
    return _median_ms(read, reps)


def spark_floors(spark, blocks_dir: str, reps: int = 3) -> dict[str, float]:
    """Blocks-table scan, identity mapInArrow and empty job of the same
    partition count."""
    blocks = spark.read.parquet(blocks_dir)
    parts = blocks.rdd.getNumPartitions()

    def identity(batches):
        yield from batches

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    return {
        "parquet.blocks_scan_ms": _median_ms(noop(blocks), reps),
        "crossing.identity_ms": _median_ms(
            noop(blocks.mapInArrow(identity, blocks.schema)), reps),
        "spark.empty_job_ms": _median_ms(
            noop(spark.range(0, parts, 1, parts)), reps),
    }
