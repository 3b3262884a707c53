"""Structured Streaming incremental encode (oroch_spark.streaming):
micro-batches encode through the same kernels and append self-contained
blocks; the decoded union is bit-identical to everything ingested."""
import os

import pytest

from oroch_spark import engine, transcripts
from oroch_spark.streaming import incremental


def test_stream_encode_availablenow(spark, tmp_path):
    src_dir = str(tmp_path / "incoming")
    out_dir = str(tmp_path / "out")
    os.makedirs(src_dir)
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    df = transcripts.generate(spark, 30, seed=3)
    df.persist()
    (df.repartition(3, "conv_id")
       .write.mode("overwrite").parquet(src_dir))

    stream = (spark.readStream.schema(transcripts.SCHEMA)
              .option("maxFilesPerTrigger", 2)
              .parquet(src_dir))
    q = incremental.encode_stream(
        stream, out_dir, ["conv_id", "turn_idx"], n_buckets=4,
        block_rows=256, text_cols=["text"], trigger_once=True)
    q.awaitTermination(120)

    blocks = incremental.read_stream_blocks(spark, out_dir)
    # multiple micro-batches, each with its own batch id
    assert blocks.select("batch_id").distinct().count() >= 2
    dec = engine.decode_df(
        blocks.drop("batch_id"), engine.column_kinds(df.schema))
    assert dec.count() == df.count()
    assert engine.checksum_df(dec) == engine.checksum_df(df)
    df.unpersist()


def test_read_latest_upsert_wins(spark, tmp_path):
    """An upserted turn (same stable key re-sent in a later batch)
    reads back exactly once with the LATEST text, pre-compaction —
    the documented latest-wins contract made executable."""
    from pyspark.sql import functions as F

    src_dir = str(tmp_path / "incoming")
    out_dir = str(tmp_path / "out")
    os.makedirs(src_dir)
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    df = transcripts.generate(spark, 10, seed=5).persist()
    kinds = engine.column_kinds(df.schema)

    # batch 0: the original table; batch 1: one conversation's turn 0
    # re-sent with corrected text
    df.write.mode("overwrite").parquet(os.path.join(src_dir, "b0"))
    upd = (df.filter((F.col("conv_id") == "conv-00000003")
                     & (F.col("turn_idx") == 0))
             .withColumn("text", F.lit("corrected text")))
    assert upd.count() == 1
    upd.write.mode("overwrite").parquet(os.path.join(src_dir, "b1"))

    stream = (spark.readStream.schema(transcripts.SCHEMA)
              .option("maxFilesPerTrigger", 1)
              .parquet(src_dir + "/*"))
    q = incremental.encode_stream(
        stream, out_dir, ["conv_id", "turn_idx"], n_buckets=2,
        block_rows=256, text_cols=["text"], trigger_once=True)
    q.awaitTermination(120)

    blocks = incremental.read_stream_blocks(spark, out_dir)
    n_batches = blocks.select("batch_id").distinct().count()
    assert n_batches >= 2

    latest = incremental.read_latest(spark, out_dir, kinds,
                                     ["conv_id", "turn_idx"])
    # both versions exist in the raw union; exactly one survives
    raw = engine.decode_df(blocks, kinds)
    key = (F.col("conv_id") == "conv-00000003") & (F.col("turn_idx") == 0)
    assert raw.filter(key).count() == 2
    got = latest.filter(key).collect()
    assert len(got) == 1 and got[0].text == "corrected text"
    assert latest.count() == df.count()
    df.unpersist()


def test_read_latest_with_base_snapshot(spark, tmp_path):
    """Base snapshot blocks rank below every increment: rows only in
    the base survive, rows re-sent on the stream take the stream
    version."""
    from pyspark.sql import functions as F

    src_dir = str(tmp_path / "incoming")
    out_dir = str(tmp_path / "out")
    base_dir = str(tmp_path / "base")
    os.makedirs(src_dir)
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    df = transcripts.generate(spark, 8, seed=9).persist()
    kinds = engine.column_kinds(df.schema)
    engine.encode_df(df, ["conv_id", "turn_idx"], n_buckets=2,
                     block_rows=256, text_cols=["text"]) \
        .write.mode("overwrite").parquet(base_dir)

    upd = (df.filter((F.col("conv_id") == "conv-00000001")
                     & (F.col("turn_idx") == 0))
             .withColumn("text", F.lit("v2")))
    upd.write.mode("overwrite").parquet(os.path.join(src_dir, "b0"))
    stream = (spark.readStream.schema(transcripts.SCHEMA)
              .parquet(src_dir + "/*"))
    q = incremental.encode_stream(
        stream, out_dir, ["conv_id", "turn_idx"], n_buckets=2,
        block_rows=256, text_cols=["text"], trigger_once=True)
    q.awaitTermination(120)

    latest = incremental.read_latest(
        spark, out_dir, kinds, ["conv_id", "turn_idx"],
        base_dir=base_dir)
    assert latest.count() == df.count()
    key = (F.col("conv_id") == "conv-00000001") & (F.col("turn_idx") == 0)
    assert latest.filter(key).first().text == "v2"
    # an untouched row reads back from the base, bit-identical
    other = (F.col("conv_id") == "conv-00000002") & (F.col("turn_idx") == 0)
    assert (latest.filter(other).first().text
            == df.filter(other).first().text)
    df.unpersist()


def test_read_latest_tombstone_delete(spark, tmp_path):
    """A tombstoned key disappears from the merge-on-read view even
    though its base row is still on disk — Iceberg equality-delete
    semantics. The base snapshot predates the tombstone column."""
    from pyspark.sql import functions as F

    src_dir = str(tmp_path / "incoming")
    out_dir = str(tmp_path / "out")
    base_dir = str(tmp_path / "base")
    os.makedirs(src_dir)
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    df = transcripts.generate(spark, 6, seed=13).persist()
    base_kinds = engine.column_kinds(df.schema)
    engine.encode_df(df, ["conv_id", "turn_idx"], n_buckets=2,
                     block_rows=256, text_cols=["text"]) \
        .write.mode("overwrite").parquet(base_dir)

    # the stream carries a `deleted` bool column; batch 0 deletes one
    # turn and upserts another
    dfd = df.withColumn("deleted", F.lit(False))
    kinds = engine.column_kinds(dfd.schema)
    kill = (F.col("conv_id") == "conv-00000004") & (F.col("turn_idx") == 1)
    edit = (F.col("conv_id") == "conv-00000002") & (F.col("turn_idx") == 0)
    batch = (dfd.filter(kill).withColumn("deleted", F.lit(True))
             .unionByName(dfd.filter(edit)
                          .withColumn("text", F.lit("v2"))))
    assert batch.count() == 2
    batch.write.mode("overwrite").parquet(os.path.join(src_dir, "b0"))

    stream = (spark.readStream.schema(batch.schema)
              .parquet(src_dir + "/*"))
    q = incremental.encode_stream(
        stream, out_dir, ["conv_id", "turn_idx"], n_buckets=2,
        block_rows=256, text_cols=["text"], trigger_once=True)
    q.awaitTermination(120)

    latest = incremental.read_latest(
        spark, out_dir, kinds, ["conv_id", "turn_idx"],
        base_dir=base_dir, tombstone_col="deleted")
    assert "deleted" not in latest.columns
    assert latest.filter(kill).count() == 0          # deleted key gone
    assert latest.filter(edit).first().text == "v2"  # upsert wins
    assert latest.count() == df.count() - 1          # everything else
    # untouched row still decodes from the pre-tombstone base
    keep = (F.col("conv_id") == "conv-00000001") & (F.col("turn_idx") == 0)
    assert (latest.filter(keep).first().text
            == df.filter(keep).first().text)
    df.unpersist()


def test_read_latest_heterogeneous_base_keeps_tombstones(spark, tmp_path):
    """A base assembled from blocks written BEFORE and AFTER the
    tombstone column was born must decode per-block (pre-evolution
    blocks null-fill = not deleted; post-evolution tombstones hold) —
    never by probing one arbitrary block's schema for the whole base."""
    from pyspark.sql import Row, functions as F

    kinds = [("k", "i64"), ("v", "str"), ("dead", "bool")]
    old = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b")], "k long, v string")
    new = spark.createDataFrame(
        [Row(k=3, v="c", dead=False), Row(k=4, v="d", dead=True)],
        "k long, v string, dead boolean")
    base_dir = str(tmp_path / "base")
    out_dir = str(tmp_path / "out")
    for part in (old, new):
        engine.encode_df(part, ["k"], n_buckets=1, block_rows=16) \
            .write.mode("append").parquet(base_dir)
    engine.encode_df(
        spark.createDataFrame([Row(k=5, v="e", dead=False)],
                              "k long, v string, dead boolean"),
        ["k"], n_buckets=1, block_rows=16).withColumn(
            "batch_id", F.lit(0).cast("long")) \
        .write.parquet(os.path.join(out_dir, "blocks_stream", "b0"))
    out = incremental.read_latest(spark, out_dir, kinds, ["k"],
                                  base_dir=base_dir,
                                  tombstone_col="dead")
    got = {r["k"]: r["v"] for r in out.collect()}
    # k=4's tombstone held (the bug: a probe hitting the OLD block
    # False-filled it and resurrected the key); k=1/2 null -> alive
    assert got == {1: "a", 2: "b", 3: "c", 5: "e"}


def test_encode_stream_batch_dirs_are_idempotent(spark, tmp_path):
    """Replayed micro-batches overwrite their own b<id>/ directory:
    re-landing the same batch must not change the block count
    (foreachBatch is at-least-once; the write must be idempotent)."""
    import datetime

    from pyspark.sql import Row, functions as F

    out_dir = str(tmp_path / "t")
    src_dir = str(tmp_path / "src")
    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [Row(conv_id=f"c{i}", turn_idx=j, role="user", text=f"t{j}",
             tool="", ts=t0) for i in range(4) for j in range(8)],
        transcripts.SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(src_dir)
    stream = (spark.readStream.schema(transcripts.SCHEMA)
              .parquet(src_dir))
    q = incremental.encode_stream(
        stream, out_dir, ["conv_id", "turn_idx"], n_buckets=2,
        block_rows=16, text_cols=["text"], trigger_once=True)
    q.awaitTermination(120)
    blocks = incremental.read_stream_blocks(spark, out_dir)
    n1 = blocks.count()
    bdir = os.path.join(out_dir, "blocks_stream", "b0")
    assert os.path.isdir(bdir)
    # simulate the replay: re-encode batch 0 into its own dir again
    enc = engine.encode_df(df, ["conv_id", "turn_idx"], n_buckets=2,
                           block_rows=16, text_cols=["text"])
    (enc.withColumn("batch_id", F.lit(0))
        .write.mode("overwrite").parquet(bdir))
    assert incremental.read_stream_blocks(spark, out_dir).count() == n1


def test_read_latest_partitioned_base_and_missing_dirs(spark, tmp_path):
    """A base written by ``checkpoint.encode_job`` (``bucket=N/``
    partition directories) is read whole under the increments; a
    base or stream directory with no parquet file raises instead of
    reading as empty."""
    from pyspark.sql import Row, functions as F

    from oroch_spark import checkpoint

    kinds = [("k", "i64"), ("v", "str")]
    job = str(tmp_path / "job")
    checkpoint.encode_job(
        spark, spark.createDataFrame([Row(k=i, v=f"b{i}") for i in range(40)],
                                     "k long, v string"),
        job, ["k"], "s0", n_buckets=4, block_rows=8)
    base_dir = os.path.join(job, "blocks")
    assert any(d.startswith("bucket=") for d in os.listdir(base_dir))
    out_dir = str(tmp_path / "out")
    engine.encode_df(
        spark.createDataFrame([Row(k=3, v="new"), Row(k=99, v="n99")],
                              "k long, v string"),
        ["k"], n_buckets=1, block_rows=16).withColumn(
            "batch_id", F.lit(0).cast("long")) \
        .write.parquet(os.path.join(out_dir, "blocks_stream", "b0"))
    out = incremental.read_latest(spark, out_dir, kinds, ["k"],
                                  base_dir=base_dir)
    assert {r["k"]: r["v"] for r in out.collect()} == {
        **{i: f"b{i}" for i in range(40)}, 3: "new", 99: "n99"}
    os.makedirs(tmp_path / "empty")
    for kw in ({"base_dir": str(tmp_path / "missing")},
               {"base_dir": str(tmp_path / "empty")},
               {"out_dir": str(tmp_path / "empty")},
               {"out_dir": str(tmp_path / "missing")}):
        with pytest.raises(FileNotFoundError):
            incremental.read_latest(spark, kw.get("out_dir", out_dir),
                                    kinds, ["k"], base_dir=kw.get(
                                        "base_dir", base_dir))
