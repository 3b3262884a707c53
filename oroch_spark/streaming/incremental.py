"""Incremental (streaming) encode: Structured Streaming front-end.

The reference has no streaming surface (SURVEY.md §2.6); this is the
Spark-idiomatic extension: new transcript rows arrive on a stream, each
micro-batch is encoded with the same kernels and appended to the blocks
table as a new snapshot increment. Because blocks are self-contained
(bucket, block_idx scoped by batch), readers never need cross-batch
state; compaction (re-blocking small increments) is a batch job reusing
``engine.encode_df``.

Append-only contract (the manifest contract for the reference's
``integer_array::insert`` analogue, `/root/reference/oroch/
integer_array.h:216-245`): increments land as NEW snapshot blocks, and
a row re-sent for an existing (conv_id, turn_idx) is an upsert. Both
versions stay on disk until ``engine.recompact`` rewrites them;
:func:`read_latest` merges them on read, keeping per stable key the
row of the highest batch id (the engine's one latest-wins resolver,
``engine.latest_df``). This is the standard immutable-table trade: the
reference pays a ripple re-encode per insert, this engine pays a merge
on read and a periodic compaction batch instead.
"""
from __future__ import annotations

import glob
import os
import re
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from .. import engine


def encode_stream(stream_df: DataFrame, out_dir: str,
                  key_cols: list[str], n_buckets: int = 32,
                  block_rows: int = 65536, chunk_rows: int = 8192,
                  text_cols: Optional[list[str]] = None,
                  checkpoint_dir: Optional[str] = None,
                  trigger_once: bool = False):
    """Start a streaming query that encodes every micro-batch and
    lands its blocks (tagged with the batch id) under
    ``out_dir/blocks_stream/b<batch_id>/``. Exactly-once via the
    streaming checkpoint + an IDEMPOTENT per-batch write:
    ``foreachBatch`` is at-least-once, so a replayed micro-batch
    (driver crash between the parquet write and the checkpoint
    commit) overwrites its own batch directory instead of appending a
    duplicate set of blocks. For manifest-committed exactly-once with
    concurrent DML, prefer ``writeStream.format("oroch")``
    (`sources/datasource.py`)."""
    blocks_path = os.path.join(out_dir, "blocks_stream")
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_stream_ckpt")

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        blocks = engine.encode_df(
            batch_df, key_cols, n_buckets=n_buckets,
            block_rows=block_rows, chunk_rows=chunk_rows,
            text_cols=text_cols)
        (blocks.withColumn("batch_id", F.lit(batch_id))
               .write.mode("overwrite")
               .parquet(os.path.join(blocks_path, f"b{batch_id}")))

    writer = (stream_df.writeStream
              .foreachBatch(handle_batch)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_stream_blocks(spark, out_dir: str) -> DataFrame:
    # per-batch subdirs (b<id>/): recursive lookup flattens them while
    # keeping the layout idempotent-overwritable per batch
    return (spark.read.option("recursiveFileLookup", "true")
            .parquet(os.path.join(out_dir, "blocks_stream")))


def read_latest(spark, out_dir: str,
                schema_kinds: list[tuple[str, str]],
                key_cols: list[str],
                base_dir: Optional[str] = None,
                tombstone_col: Optional[str] = None) -> DataFrame:
    """Merge-on-read / latest-wins reader: the append-only contract
    above, made executable. Keeps exactly one row per stable key of
    the ``encode_stream`` increments under ``out_dir`` — the one from
    the highest batch id, read off each file's ``blocks_stream/b<id>/``
    directory — with the blocks files of an optional base snapshot
    directory ``base_dir`` (``encode_job``'s ``bucket=N/`` partitions
    included) ranked -1, older than every increment. A directory with
    no parquet file raises. Within a single batch the key is unique by
    the encode contract (a micro-batch is one consistent snapshot of
    its keys), so the ranking is total.

    ``tombstone_col`` names an optional boolean column (encoded like
    any other bool) marking the row as a DELETE of its key — the
    equality-delete analogue of Iceberg merge-on-read: a deleted key's
    newest row wins the ranking and is then dropped, so the key
    disappears from the view even though the base row is still on
    disk (until recompaction rewrites it). Blocks that predate the
    tombstone column read it as null, per block: not deleted.

    Scale shape: ``engine.latest_df`` (no shuffle), paid only until
    ``engine.recompact`` folds the increments into base blocks."""

    def files(d: str) -> list[str]:  # as Spark lists them: no _ or .
        return sorted(f for f in glob.glob(os.path.join(
            d, "**", "*.parquet"), recursive=True) if not any(
                p[0] in "_." for p in os.path.relpath(f, d).split(os.sep)))

    inc = os.path.join(out_dir, "blocks_stream")
    pairs = [(f, int(d[1:])) for d in sorted(os.listdir(inc))
             if re.fullmatch(r"b\d+", d) for f in files(os.path.join(inc, d))]
    base = [(f, -1) for f in files(base_dir)] if base_dir else []
    if not pairs or base_dir and not base:
        raise FileNotFoundError(
            f"no parquet file under {base_dir if pairs else inc}")
    out = engine.latest_df(spark, base + pairs, schema_kinds, key_cols,
                           tombstone_col)
    return out.drop("_batch_id", *([tombstone_col] if tombstone_col else []))
