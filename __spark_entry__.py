"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: encode -> decode round-trip of the events
table at sf0.001 through the columnar compression engine; returns the
decoded DataFrame (bit-identical to the source).

``queries()`` / ``oracle_sql()`` — one entry per operator family from
SURVEY.md §2 plus the training-data pipeline operators. Round-trip
queries use ``SELECT *`` oracles: a value-hash match against DuckDB
reading the same parquet *is* the bit-identical round-trip proof.
"""
from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

import oroch_spark.engine as engine
import oroch_spark.transcripts as transcripts
from oroch_spark.operators import (decontam, dedup, multimodal, packing,
                                   sampling, similarity, temporal,
                                   textstats)

SF0001 = "/root/testdata/sf0.001"


def _read(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    src = _read(spark, SF0001, "events")
    return engine.roundtrip_df(src, ["event_id"], n_buckets=8)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _rt(table: str, key_cols: list[str]):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        src = _read(spark, sf_dir, table)
        return engine.roundtrip_df(src, key_cols, n_buckets=8,
                                   text_cols=["text"])
    return q


RT_TRANSCRIPTS_PATH = "/tmp/oroch_rt_transcripts_200.parquet"


def _ensure_transcripts_parquet() -> str:
    """Materialize the deterministic 200-conversation transcript table
    once (pure-pandas generator, no Spark) so BOTH the Spark round-trip
    and the DuckDB oracle read the same bytes — this upgrades the
    flagship transcript round-trip from rows-only to hash-checked."""
    import os
    import tempfile

    if not os.path.exists(RT_TRANSCRIPTS_PATH):
        import pyarrow as pa
        import pyarrow.parquet as pq
        pdf = transcripts.generate_pandas(200, seed=42)
        tmp = tempfile.mktemp(dir="/tmp", suffix=".parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       tmp)
        os.replace(tmp, RT_TRANSCRIPTS_PATH)
    return RT_TRANSCRIPTS_PATH


def _q_rt_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = spark.read.parquet(_ensure_transcripts_parquet())
    return engine.roundtrip_df(src, ["conv_id", "turn_idx"], n_buckets=8,
                               text_cols=["text"])


def _q_rt_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table round-trip: array<float> via the byte-plane codec
    (sign-rotated MSB plane + per-plane Oroch selection), vec_id/label
    via the integer codecs. The raw array column can't be canonicalized
    by the driver harness (pandas can't sort/hash list cells), so the
    oracle surface projects it to deterministic scalars BOTH engines
    compute identically: dim, the left-fold double sum of squares, and
    an index-weighted left-fold sum (catches element-level corruption
    and reordering; verified fold-order-identical vs DuckDB
    list_reduce). Bitwise equality stays asserted in pytest
    (tests/test_type_coverage.py)."""
    src = _read(spark, sf_dir, "embeddings")
    rt = engine.roundtrip_df(src, ["vec_id"], n_buckets=8)
    x2 = lambda x: x.cast("double") * x.cast("double")
    wseq = F.sequence(F.lit(1), F.size("embedding"))
    return rt.select(
        "vec_id", "label",
        F.size("embedding").alias("dim"),
        F.round(F.aggregate(F.transform("embedding", x2), F.lit(0.0),
                            lambda a, b: a + b), 6).alias("sq_sum"),
        F.round(F.aggregate(
            F.zip_with("embedding", wseq,
                       lambda x, i: x.cast("double") * i.cast("double")),
            F.lit(0.0), lambda a, b: a + b), 6).alias("wsum"))


def _q_rt_alltypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-type round-trip: date32, float32, boolean, tinyint,
    smallint, decimal(12,2) derived from lineitem by deterministic
    casts — the engine's full scalar type matrix in one oracle query."""
    src = _read(spark, sf_dir, "lineitem")
    df = src.select(
        "l_orderkey", "l_linenumber",
        F.col("l_linenumber").cast("tinyint").alias("lin_i8"),
        F.col("l_suppkey").cast("smallint").alias("supp_i16"),
        F.to_date("l_shipdate").alias("ship_date"),
        F.col("l_discount").cast("float").alias("disc_f32"),
        (F.col("l_quantity") > 25).alias("qty_gt25"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price_dec"),
    )
    rt = engine.roundtrip_df(df, ["l_orderkey", "l_linenumber"],
                             n_buckets=8)
    # the round-trip above runs the date/decimal codecs bit-exact; the
    # OUTPUT surface re-casts them to types both engines fetch
    # identically (DuckDB hands DECIMAL/DATE to pandas as
    # float64/datetime64, Spark as Decimal/date objects)
    return rt.withColumn("price_dec", F.col("price_dec").cast("double")) \
             .withColumn("ship_date", F.col("ship_date").cast("timestamp"))


def _events_blocks_path(spark: SparkSession, sf_dir: str) -> str:
    """Encode+persist the events blocks table once per sf (cached
    across queries); lookups/scans run against the stored table."""
    import os
    import tempfile

    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(),
                        f"oroch_blocks_events_v5_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        src = _read(spark, sf_dir, "events")
        engine.encode_df(src, ["event_id"], n_buckets=8,
                         block_rows=4096, bloom_cols=["props"]) \
            .write.mode("overwrite").parquet(path)
    return path


def _q_multi_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IN-list lookup (`engine.lookup_in`): many keys fetched in
    one pass — blocks prune on the OR of per-value zone containment and
    each survivor decodes its key column once for the whole probe set.
    Extension beyond the reference's single-value find
    (`/root/reference/oroch/integer_array.h:192-208`)."""
    src = _read(spark, sf_dir, "events")
    kinds = engine.column_kinds(src.schema)
    blocks = spark.read.parquet(_events_blocks_path(spark, sf_dir))
    return engine.lookup_in(blocks, kinds, "event_id",
                            [3, 777, 4242, 9999])


def _q_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup on a NON-key high-cardinality column (props) via
    the per-block Bloom filter stored in the descriptor: blocks whose
    filter proves the value absent are skipped on the driver's block
    index before any payload decode. Zone maps can't prune this shape (props is
    uncorrelated with the event_id block order, so every block's
    [lo, hi] spans the domain)."""
    src = _read(spark, sf_dir, "events")
    kinds = engine.column_kinds(src.schema)
    blocks = spark.read.parquet(_events_blocks_path(spark, sf_dir))
    return engine.lookup_where(blocks, kinds, "props", '{"k": 42}')


def _q_rt_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection pushdown into the block format: decode only 2 of the
    6 event columns (unrequested payload bytes are never touched)."""
    src = _read(spark, sf_dir, "events")
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["event_id"], n_buckets=8)
    return engine.decode_df(blocks, kinds,
                            columns=["event_id", "value"])


def _q_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate pushdown beyond COUNT: SUM/MIN/MAX of user_id over a
    key range — interior blocks answer from the per-column (lo, hi, s)
    descriptor stats without any payload decode; boundary blocks decode
    only (event_id, user_id)."""
    src = _read(spark, sf_dir, "events")
    kinds = engine.column_kinds(src.schema)
    blocks = spark.read.parquet(_events_blocks_path(spark, sf_dir))
    return engine.range_agg(blocks, kinds, "event_id", 500, 7500,
                            "user_id")


def _q_scan_where_str(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary zone map on a STRING column: lexicographic per-column
    (slo, shi) descriptor stats prune a range predicate on event_type
    over the event_id-keyed table."""
    src = _read(spark, sf_dir, "events")
    kinds = engine.column_kinds(src.schema)
    blocks = spark.read.parquet(_events_blocks_path(spark, sf_dir))
    return engine.scan_where(blocks, kinds, "event_type",
                             "click", "error")



def _q_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY pushdown into the codec (`engine.group_count`):
    dictionary/RLE string blocks emit (value, count) pairs from the
    dictionary + code stream without rebuilding row values; Spark
    partial-aggregates the block-level pairs before one low-cardinality
    exchange."""
    src = _read(spark, sf_dir, "events")
    kinds = engine.column_kinds(src.schema)
    blocks = spark.read.parquet(_events_blocks_path(spark, sf_dir))
    return engine.group_count(blocks, kinds, "event_type")



def _q_agg_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM/MIN/MAX/COUNT of one column under a range predicate on a
    DIFFERENT non-key column (`engine.agg_where`): predicate-contained
    blocks answer from the aggregate column's stored (lo, hi, s) stats
    with no payload decode; only straddling blocks decode, and only the
    two columns involved."""
    src = _read(spark, sf_dir, "events")
    kinds = engine.column_kinds(src.schema)
    blocks = spark.read.parquet(_events_blocks_path(spark, sf_dir))
    return engine.agg_where(blocks, kinds, "user_id", 2, 8, "event_id")


def _q_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed IN (`engine.lookup_join`): a keys DATAFRAME's
    distinct keys (an entity list, read once into the driver)
    answered as `lookup_in` — the
    block index prunes, the row evaluator matches — the batched lookup
    an entity-fetch makes at 100 TB."""
    src = _read(spark, sf_dir, "events")
    kinds = engine.column_kinds(src.schema)
    blocks = spark.read.parquet(_events_blocks_path(spark, sf_dir))
    keys = src.filter(F.col("event_type") == "signup").select("event_id")
    return engine.lookup_join(blocks, kinds, "event_id", keys)


def _q_topk_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY key LIMIT k with overlap-safe zone-map pruning
    (`engine.topk_key`): per bucket, only the minimal block prefix
    that provably contains the top k decodes; Spark's
    TakeOrderedAndProject finishes without a global sort."""
    src = _read(spark, sf_dir, "events")
    kinds = engine.column_kinds(src.schema)
    blocks = spark.read.parquet(_events_blocks_path(spark, sf_dir))
    return engine.topk_key(blocks, kinds, "event_id", 10)


def _q_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows over the DECODED blocks table — the
    batch face of `streaming/windowed.py`'s watermarked window op
    (whose streaming==batch equality is pytest-proven), here proven
    cross-engine: decode only the ts/event_id payload slices
    (projection pushdown into the block format), bucket into 1-hour
    windows, aggregate. Oracle recomputes with DuckDB time_bucket on
    the raw parquet, so the codec round-trip and the window semantics
    are hash-checked together."""
    src = _read(spark, sf_dir, "events")
    kinds = engine.column_kinds(src.schema)
    blocks = spark.read.parquet(_events_blocks_path(spark, sf_dir))
    dec = engine.decode_df(blocks, kinds, columns=["event_id", "ts"])
    return (dec.groupBy(F.window("ts", "1 hour").alias("w"))
               .agg(F.count("*").alias("n_events"),
                    F.min("event_id").alias("min_id"),
                    F.max("event_id").alias("max_id"))
               .select(F.col("w.start").alias("w_start"),
                       "n_events", "min_id", "max_id"))


def _ds_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Write the events table once per sf with
    ``df.write.format("oroch")`` (map-only block encode + sidecar
    commit) and cache the directory — the DataSource-surface analogue
    of ``_events_blocks_path``."""
    import os
    import tempfile

    from oroch_spark.sources import datasource as ds

    ds.register(spark)
    tag = os.path.basename(sf_dir.rstrip("/"))
    # versioned like the blocks caches: bump on any wire-format change
    path = os.path.join(tempfile.gettempdir(),
                        f"oroch_ds_events_v1_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        src = _read(spark, sf_dir, "events")
        (src.repartition(8, "event_id").sortWithinPartitions("event_id")
            .write.format("oroch").mode("overwrite")
            .option("key_cols", "event_id").save(path))
    return path


def _q_rt_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python DataSource surface, driver-proven: write the events
    table with ``df.write.format("oroch")`` and read it back with
    ``spark.read.format("oroch")`` (one row-group per input partition,
    executor-side decode). A value hash against DuckDB on the raw
    parquet is the round-trip proof at the source/sink boundary."""
    return spark.read.format("oroch").load(
        _ds_events_path(spark, sf_dir))


def _q_ds_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown through the declarative surface, driver-proven:
    a key range AND a secondary-column equality on a
    ``spark.read.format("oroch")`` table — the reader absorbs both
    (row-group stats -> desc stats/Bloom -> exact Arrow enforcement)
    and the result must value-hash against DuckDB running the same
    WHERE on the raw parquet."""
    back = spark.read.format("oroch") \
        .load(_ds_events_path(spark, sf_dir))
    return back.filter((F.col("event_id") >= 1000)
                       & (F.col("event_id") < 5000)
                       & (F.col("event_type") == "click"))


def _q_rt_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mode("append")`` on the batch DataSource writer, driver-proven
    (the round-3 data-loss fix): the events table lands in two jobs —
    an overwrite of the even keys, then an APPEND of the odd keys —
    and the read-back must be the exact union (value-hashed against
    the raw parquet)."""
    import os
    import tempfile

    from oroch_spark.sources import datasource as ds

    ds.register(spark)
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(),
                        f"oroch_ds_append_v1_{tag}")
    # guard on a marker written only after BOTH jobs finished: a crash
    # between overwrite and append must not cache a half-built table
    done = os.path.join(path, "_FIXTURE_READY")
    if not os.path.exists(done):
        src = _read(spark, sf_dir, "events")
        for mode, parity in (("overwrite", 0), ("append", 1)):
            (src.filter(F.col("event_id") % 2 == parity)
                .repartition(4, "event_id")
                .sortWithinPartitions("event_id")
                .write.format("oroch").mode(mode)
                .option("key_cols", "event_id").save(path))
        with open(done, "w") as f:
            f.write("ok")
    return spark.read.format("oroch").load(path)


def _q_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read through the bare declarative surface: a streaming
    sink receives the events table, then a second micro-batch UPSERTS
    every 10th key with value+100; ``spark.read.format("oroch")
    .option("latest_wins", "true")`` must return each key exactly once
    with the newest version — the oracle recomputes the expected view
    with a CASE over the raw parquet."""
    import os
    import tempfile

    from oroch_spark.sources import datasource as ds

    ds.register(spark)
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(tempfile.gettempdir(), f"oroch_lw_v1_{tag}")
    sink = os.path.join(root, "sink")
    # marker written only after the stream drained BOTH batches: a
    # crash after batch 0 must not cache an upsert-less sink
    done = os.path.join(root, "_FIXTURE_READY")
    if not os.path.exists(done):
        srcdir = os.path.join(root, "src")
        src = _read(spark, sf_dir, "events")
        src.coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(srcdir, "f1"))
        (src.filter(F.col("event_id") % 10 == 0)
            .withColumn("value", F.col("value") + 100)
            .coalesce(1).write.mode("overwrite")
            .parquet(os.path.join(srcdir, "f2")))
        q = (spark.readStream.schema(src.schema)
             .option("maxFilesPerTrigger", "1").parquet(srcdir + "/*")
             .writeStream.format("oroch").option("path", sink)
             .option("key_cols", "event_id")
             .option("checkpointLocation", os.path.join(root, "ckpt"))
             .trigger(availableNow=True).start())
        if not q.awaitTermination(600):
            # never build on (or cache) a sink a live writer still
            # owns — single-writer contract
            q.stop()
            raise RuntimeError("rt_append fixture stream timed out")
        if len({b for _, b in ds._sink_manifest_files(sink)}) >= 2:
            with open(done, "w") as f:
                f.write("ok")
    return (spark.read.format("oroch")
            .option("latest_wins", "true").load(sink))


def _q_rt_dims_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three dimension tables round-trip THROUGH the codec, then join
    on their decoded keys (supplier |x| nation |x| region — both
    broadcast): one entry proves the three small-table round-trips AND
    that decoded columns join correctly across tables. Folds the r3
    rt_supplier / rt_nation / rt_region entries into one driver slot
    (the driver runs at most ~50 queries per round)."""
    sup = engine.roundtrip_df(_read(spark, sf_dir, "supplier"),
                              ["s_suppkey"], n_buckets=8)
    nat = engine.roundtrip_df(_read(spark, sf_dir, "nation"),
                              ["n_nationkey"], n_buckets=8)
    reg = engine.roundtrip_df(_read(spark, sf_dir, "region"),
                              ["r_regionkey"], n_buckets=8)
    return (sup.join(F.broadcast(nat),
                     sup["s_nationkey"] == nat["n_nationkey"])
               .join(F.broadcast(reg),
                     F.col("n_regionkey") == F.col("r_regionkey")))


def _q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE at metadata speed (`engine.table_stats`): per
    column, the table's row count, exact null count, and global
    min/max — straight off the block descriptors, no payload decode.
    Oracle recomputes the same aggregates by scanning the raw parquet;
    the ts minima compare in the engine's epoch-micros domain."""
    src = _read(spark, sf_dir, "events")
    kinds = engine.column_kinds(src.schema)
    blocks = spark.read.parquet(_events_blocks_path(spark, sf_dir))
    st = engine.table_stats(
        blocks, kinds, columns=["event_id", "user_id", "ts",
                                "event_type"])
    return st.select(
        "col", "n_rows", "n_nulls",
        F.coalesce(F.col("min_long").cast("string"),
                   F.col("min_str")).alias("min_v"),
        F.coalesce(F.col("max_long").cast("string"),
                   F.col("max_str")).alias("max_v"))


def _q_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full GROUP BY aggregate pushdown (`engine.group_agg`): per
    block, Arrow's C++ hash group-by reduces (event_type, user_id) to
    one partial row per group; the one exchange carries O(groups)."""
    src = _read(spark, sf_dir, "events")
    kinds = engine.column_kinds(src.schema)
    blocks = spark.read.parquet(_events_blocks_path(spark, sf_dir))
    return engine.group_agg(blocks, kinds, "event_type", "user_id")


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over the DECODED blocks table
    (`operators.sessions.session_stats`): projection decode of
    (event_id, ts, user_id), one shuffle on the entity, two window
    passes, per-session rollup — deterministic (ts, id) ordering so
    the DuckDB oracle reproduces session ids exactly."""
    from oroch_spark.operators import sessions

    src = _read(spark, sf_dir, "events")
    kinds = engine.column_kinds(src.schema)
    blocks = spark.read.parquet(_events_blocks_path(spark, sf_dir))
    dec = engine.decode_df(blocks, kinds,
                           columns=["event_id", "ts", "user_id"])
    return sessions.session_stats(dec, gap_seconds=1800)


def _transcripts_blocks_path(spark: SparkSession) -> str:
    """Encode+persist the 200-conversation transcript table keyed by
    (conv_id, turn_idx) once; string-keyed lookups run against it."""
    import os
    import tempfile

    path = os.path.join(tempfile.gettempdir(),
                        "oroch_blocks_transcripts_v3_200")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        src = spark.read.parquet(_ensure_transcripts_parquet())
        engine.encode_df(src, ["conv_id", "turn_idx"], n_buckets=8,
                         block_rows=2048, text_cols=["text"]) \
            .write.mode("overwrite").parquet(path)
    return path


def _q_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation rollup straight off the encoded transcript
    table (`engine.group_agg` with a STRING group key): turns per
    conversation + min/max/sum of turn_idx, reduced to one partial row
    per conversation per block inside the kernel."""
    blocks = spark.read.parquet(_transcripts_blocks_path(spark))
    src = spark.read.parquet(_ensure_transcripts_parquet())
    kinds = engine.column_kinds(src.schema)
    return engine.group_agg(blocks, kinds, "conv_id", "turn_idx")


def _q_lookup_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-keyed point lookup (the reference's ``find`` is generic
    over T, `integer_array.h:192-208`): lexicographic zone-map pruning
    on (key_slo, key_shi), then key-column-only decode and row fetch
    of one conversation out of 200."""
    src = spark.read.parquet(_ensure_transcripts_parquet())
    kinds = engine.column_kinds(src.schema)
    blocks = spark.read.parquet(_transcripts_blocks_path(spark))
    return engine.lookup(blocks, kinds, "conv_id", "conv-00000042")


def _q_codec_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata report (no oracle by nature — it describes the codec's
    own choices, which DuckDB has no equivalent of): the per-codec
    selection histogram (reference descriptor dump,
    `/root/reference/oroch/integer_codec.h:217-224`) and the
    compression summary (rows, bytes in/out, Oroch-model reference
    bytes, budget check), folded into one long-format entry — the r3
    codec_histogram + compression_summary in one driver slot."""
    df = transcripts.generate(spark, n_conv=200, seed=42)
    blocks = engine.encode_df(df, ["conv_id", "turn_idx"], n_buckets=8,
                              text_cols=["text"])
    hist = (blocks
            .select(F.explode(engine._codec_entries(F.col("desc")))
                    .alias("codec"))
            .groupBy("codec").agg(F.count("*").cast("double")
                                  .alias("value"))
            .select(F.concat(F.lit("codec:"), F.col("codec"))
                    .alias("metric"), "value"))
    s = blocks.agg(
        F.sum("n").alias("n_rows"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("bytes_out").alias("bytes_out"),
        F.sum("ref_bytes").alias("ref_bytes"),
        (F.sum("bytes_out") <= F.sum("ref_bytes")).cast("double")
        .alias("within_budget")).first()  # ONE job for all 5 metrics
    long = spark.createDataFrame(
        [(m, float(s[m])) for m in ("n_rows", "bytes_in", "bytes_out",
                                    "ref_bytes", "within_budget")],
        "metric string, value double")
    return hist.unionByName(long).orderBy("metric")


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_read(spark, sf_dir, "documents"))


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = textstats.token_stats(_read(spark, sf_dir, "documents"))
    return df.select("doc_id",
                     F.col("n_tokens").cast("long").alias("n_tokens"),
                     "n_bpe_tokens",
                     F.col("n_chars").cast("long").alias("n_chars"),
                     F.col("mean_tok_len"))


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = textstats.quality_score(_read(spark, sf_dir, "documents"))
    return df.select("doc_id",
                     F.col("n_chars").cast("long").alias("n_chars"),
                     "alpha_ratio", "digit_ratio", "space_ratio",
                     F.col("stopword_hits").cast("long")
                      .alias("stopword_hits"))



def _query_vec(sf_dir: str) -> list[float]:
    import pyarrow.parquet as pq
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet",
                        columns=["vec_id", "embedding"])
    pdf = tbl.to_pandas()
    hits = pdf.loc[pdf.vec_id == 0, "embedding"]
    if len(hits) == 0:
        # empty table (or no vec_id 0): a deterministic unit probe at
        # the testdata layout's dimensionality keeps the ANN queries
        # runnable (they then return their empty/constant shapes)
        return [1.0] + [0.0] * 63
    return [float(x) for x in hits.iloc[0]]


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, _query_vec(sf_dir), k=10,
                                  round_to=6)


def _recall_row(approx: DataFrame, exact: DataFrame, k: int,
                min_hit: int) -> DataFrame:
    """One deterministic row (k, recall_ok): recall_ok is true iff the
    approximate top-k recovered >= min_hit of the exact top-k. The
    oracle side is the constant row — a recall regression flips the
    value and fails the hash compare."""
    hit = (exact.select("vec_id").join(approx.select("vec_id"), "vec_id")
           .agg(F.count("*").alias("n_hit")))
    return hit.select(F.lit(k).alias("k"),
                      (F.col("n_hit") >= min_hit).alias("recall_ok"))


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified LSH top-k, recall-asserted against the exact scan
    (10/10 at 3 planes x 10 tables on this data; >=9 required)."""
    emb = _read(spark, sf_dir, "embeddings")
    qv = _query_vec(sf_dir)
    approx = similarity.ann_topk_lsh_multi(emb, qv, k=10, n_planes=3,
                                           n_tables=10)
    exact = similarity.cosine_topk(emb, qv, k=10, round_to=6)
    return _recall_row(approx, exact, 10, 9)


def _q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x PQ composed (FAISS IVFADC shape, RESIDUAL coding: the PQ
    codebooks quantize x - centroid(list), scored through
    per-probed-list ADC tables): coarse lists restrict the scan, ADC
    scores 8-byte residual codes within probed lists, exact rescore of
    the shortlist. The rescore budget scales with the corpus — capped
    min(2000, max(100, n/10)), corpus size read from the parquet
    footer (no Spark job): 100 at the driver's sf0.01 (500 vectors) —
    smaller than the 150 the non-residual r3 variant needed at the
    same recall — and 200 at sf0.1's 2000 vectors, where the 4x
    candidate pool needs a proportionate budget. (On these tiny
    oracle corpora the fraction is the binding term; at real scale
    the cap is — a few thousand exact rescores against billions of
    8-byte code scans.) Recall-asserted against the exact scan on
    gaussian worst-case embeddings."""
    import pyarrow.parquet as pq

    emb = _read(spark, sf_dir, "embeddings")
    qv = _query_vec(sf_dir)
    n = pq.ParquetFile(f"{sf_dir}/embeddings.parquet").metadata.num_rows
    approx = similarity.ann_topk_ivfpq(emb, qv, k=10, n_probe=12,
                                       ksub=64,
                                       shortlist=min(2000,
                                                     max(100, n // 10)),
                                       residual=True)
    exact = similarity.cosine_topk(emb, qv, k=10, round_to=6)
    return _recall_row(approx, exact, 10, 9)


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH -> exact-Jaccard verification. Oracle = exhaustive
    all-pairs Jaccard >= threshold in SQL: the query matches iff the
    banding recalls every true pair (32 hashes / 16 bands => miss
    probability ~1e-10 at J>=0.85, where all real dup pairs live)."""
    docs = _read(spark, sf_dir, "documents")
    cands = dedup.minhash_lsh_candidates(docs, num_hashes=32, bands=16,
                                         max_bucket=None)
    return dedup.jaccard_pairs(docs, cands, threshold=0.5)


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with the cross-engine md5 token hash: DuckDB recomputes
    the exact 16-bit fingerprints (bit votes ported to SQL)."""
    return dedup.simhash(_read(spark, sf_dir, "documents"), bits=16,
                         hasher="md5")


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprint(_read(spark, sf_dir, "documents"),
                                 algo="md5")


def _q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = textstats.lang_id_ngram(_read(spark, sf_dir, "documents"))
    return df.select("doc_id",
                     F.col("en_evidence").cast("long").alias("en_evidence"),
                     "lang_pred")


def _q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints with the cross-engine md5
    gram hash; the oracle recomputes the exact sets and compares their
    size and min/max (int64-exact, unlike a float-summed checksum)."""
    df = textstats.winnow_fingerprint(_read(spark, sf_dir, "documents"),
                                      hasher="md5")
    return df.select(
        "doc_id",
        F.size("fingerprints").cast("long").alias("n_fps"),
        F.array_min("fingerprints").alias("fp_min"),
        F.array_max("fingerprints").alias("fp_max"))



def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, oracle-checked: payloads are the UTF-8
    bytes of the documents table, features come from the vectorized
    Arrow batch kernel (8x8 tile column means), and DuckDB recomputes
    the exact same features from the characters."""
    docs = _read(spark, sf_dir, "documents")
    media = multimodal.media_from_documents(docs)
    feats = multimodal.extract_features(media)
    return feats.select("media_id",
                        F.col("n_bytes").cast("long").alias("n_bytes"),
                        F.round(F.element_at("feat", 1).cast("double"), 4)
                        .alias("f0"))


def _q_recompact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction job: tiny blocks -> full-size blocks, decoded content
    preserved (returns the recompacted round-trip)."""
    src = _read(spark, sf_dir, "nation")
    kinds = engine.column_kinds(src.schema)
    small = engine.encode_df(src, ["n_nationkey"], n_buckets=2,
                             block_rows=4)
    big = engine.recompact(small, kinds, ["n_nationkey"], n_buckets=2,
                           block_rows=4096)
    return engine.decode_df(big, kinds)


def _q_near_dup_emb_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified LSH near-dup pairs, oracle-checked against the SAME
    exhaustive SQL as the exact path: the banded join must recover every
    pair >= threshold (3 planes x 16 tables => ~0.997 recall at cosine
    0.51, ~1.0 above 0.9)."""
    emb = _read(spark, sf_dir, "embeddings")
    dim = len(_query_vec(sf_dir))
    return similarity.cosine_near_dup_pairs(emb, threshold=0.5,
                                            n_planes=3, n_tables=16,
                                            dim=dim)


# ---------------------------------------------------------------------------
# round-5 slot rotation: driver-oracle rows for the r4 library operators
# (VERDICT r4 "Next round" #2 and #4)
# ---------------------------------------------------------------------------

def _dml_fixture(spark: SparkSession, sf_dir: str):
    """Build (once per sf) a DataSource table of the events rows that
    then receives real DML: an ``upsert`` of every 7th key with
    value+1000, then a ``delete_where`` of every signup row (schema
    evolution: the delete adds the ``deleted`` tombstone column).
    Returns (sink_path, info) where info records the allocated batch
    ids, so queries can reference RELATIVE batch numbers (absolute ids
    depend on how the initial write committed)."""
    import json as _json
    import os
    import shutil
    import tempfile

    from oroch_spark.sources import datasource as ds
    from oroch_spark.sources import dml

    ds.register(spark)
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(tempfile.gettempdir(), f"oroch_dmlq_v1_{tag}")
    sink = os.path.join(root, "sink")
    done = os.path.join(root, "_FIXTURE_READY")
    if not os.path.exists(done):
        # a crash mid-build must not cache a half-mutated table: DML is
        # not idempotent, so rebuild from nothing
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        src = _read(spark, sf_dir, "events")
        # DML runs over streaming-sink tables (batch manifests are what
        # latest-wins ranks), so the base load is ONE micro-batch
        srcdir = os.path.join(root, "src")
        src.coalesce(2).write.mode("overwrite").parquet(srcdir)
        q = (spark.readStream.schema(src.schema).parquet(srcdir)
             .writeStream.format("oroch").option("path", sink)
             .option("key_cols", "event_id")
             .option("checkpointLocation", os.path.join(root, "ckpt"))
             .trigger(availableNow=True).start())
        if not q.awaitTermination(600):
            # DML against a sink a live writer still owns would race
            # the single-writer contract — and the half-built table
            # would be cached behind _FIXTURE_READY forever
            q.stop()
            raise RuntimeError("DML fixture base load timed out")
        base = max(ds._sink_batch_ids(sink))
        # the table's kind system folds ntz into K_TS (ltz), so the
        # upsert frame casts explicitly — exactly what the strict
        # _conform contract demands of callers
        up = (src.filter(F.col("event_id") % 7 == 0)
                 .withColumn("value", F.col("value") + 1000.0)
                 .withColumn("ts", F.col("ts").cast("timestamp")))
        man_up = dml.upsert(spark, sink, up, n_buckets=4)
        man_del = dml.delete_where(spark, sink,
                                   "event_type = 'signup'",
                                   tombstone_col="deleted",
                                   n_buckets=4)
        info = {"base": base, "up": man_up["batch_id"],
                "del": man_del["batch_id"]}
        tmp = done + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(info, f)
        os.replace(tmp, done)
    with open(done) as f:
        return sink, _json.load(f)


def _q_dml_upsert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch DML end-to-end, driver-proven (`sources/dml.py:181-271`):
    upsert every 7th key (value+1000), tombstone-delete every signup
    row, read back latest-wins with tombstone resolution. The oracle
    recomputes the expected live view with a CASE + WHERE over the raw
    parquet — whole-row latest-wins and delete semantics hash-checked
    in one row set."""
    sink, _ = _dml_fixture(spark, sf_dir)
    out = (spark.read.format("oroch")
           .option("latest_wins", "true")
           .option("tombstone_col", "deleted").load(sink))
    if "deleted" in out.columns:
        out = out.drop("deleted")
    return out


def _q_cdc_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data feed (`sources/dml.py:274-383`), driver-proven: the
    changes since the initial load must be exactly one
    ``update_postimage`` per non-deleted upserted key and one
    ``delete`` (NULL post-image payload) per signup key, with the
    correct per-change commit batch. Batch ids are reported RELATIVE
    to the upsert's id so the oracle is a constant expression over the
    raw parquet."""
    from oroch_spark.sources import dml

    sink, info = _dml_fixture(spark, sf_dir)
    feed = dml.table_changes(spark, sink, from_batch=info["base"],
                             tombstone_col="deleted")
    return (feed.withColumn(
        "rel_batch",
        (F.col("_commit_batch") - F.lit(int(info["up"]))).cast("long"))
        .drop("_commit_batch"))


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (`operators/temporal.py:48-152`): for every click,
    the latest signup by the same user at or before its ts (backward;
    greatest-event_id tiebreak at equal ts). The union+carry-forward
    plan — one shuffle, no theta join — must hash-match DuckDB's
    window-ranked LEFT JOIN."""
    ev = _read(spark, sf_dir, "events")
    left = (ev.filter(F.col("event_type") == "click")
              .select("event_id", "ts", "user_id"))
    right = (ev.filter(F.col("event_type") == "signup")
               .select("user_id", F.col("ts").alias("rts"),
                       F.col("value").alias("r_value"),
                       F.col("event_id").alias("rid")))
    return temporal.asof_join(left, right, on="user_id",
                              left_ts="ts", right_ts="rts",
                              right_cols=["r_value"], tiebreak="rid",
                              matched_ts_col="asof_ts")


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join (`operators/temporal.py:155-199`):
    events probe a deterministic overlapping interval grid on
    ``value`` via the bucketized equi-join (no BroadcastNestedLoop).
    Oracle = the plain BETWEEN theta-join in SQL."""
    ev = _read(spark, sf_dir, "events").select("event_id", "value")
    iv = (spark.range(40)
          .select(F.col("id").alias("iv_id"),
                  (F.col("id") * 15.0).alias("lo"),
                  (F.col("id") * 15.0 + 22.0).alias("hi")))
    return temporal.range_join(ev, iv, x_col="value",
                               lo_col="lo", hi_col="hi",
                               bucket_width=15.0)


def _q_pack_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, concat-and-chunk plan
    (`operators/packing.py:47-88`): documents in doc_id order fill
    512-token packs; straddlers split across pack boundaries. With one
    bucket the plan is a pure window cumsum, so DuckDB reproduces every
    (pack_id, doc_from, doc_to, pack_offset) exactly (multi-bucket
    hashing is pytest-covered — xxhash64 isn't portable to SQL)."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok"))
    return packing.pack_concat(docs, ["doc_id"], "n_tok",
                               budget=512, n_buckets=1, seed=0)


def _q_split_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe hash split (`operators/sampling.py:51-75`),
    property-proven in one deterministic row: the 0.8/0.1/0.1 split of
    documents must be exhaustive (every row in some split), disjoint
    (no doc in two), and near the requested fractions. xxhash64 isn't
    SQL-portable, so the oracle is the constant row — any property
    regression flips a boolean and fails the hash compare (the ANN
    recall-row pattern)."""
    docs = _read(spark, sf_dir, "documents")
    splits = sampling.split_by_key(
        docs, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1},
        seed=7)
    parts = [df.select("doc_id").withColumn("split", F.lit(name))
             for name, df in splits.items()]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    tot = docs.agg(F.count("*").alias("n_docs"))
    agg = u.agg(
        F.count("*").alias("n_all"),
        F.count_distinct("doc_id").alias("nd_all"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
         .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
         .alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
         .alias("n_test"))
    nd = F.col("n_docs").cast("double")
    return agg.crossJoin(tot).select(
        (F.col("n_all") == F.col("n_docs")).alias("exhaustive_ok"),
        (F.col("nd_all") == F.col("n_docs")).alias("disjoint_ok"),
        ((F.abs(F.col("n_train") / nd - 0.8) <= 0.05)
         & (F.abs(F.col("n_val") / nd - 0.1) <= 0.05)
         & (F.abs(F.col("n_test") / nd - 0.1) <= 0.05))
        .alias("frac_ok"))


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (`operators/decontam.py:56-95`): every
    17th document plays the eval set; each training document reports
    how many distinct normalized 8-grams it shares with ANY eval doc.
    The oracle recomputes the exact n-gram intersection in SQL
    (distinct matching GRAMS == distinct matching xxhash64 values,
    collision-free on this data), so normalization, shingling, and the
    broadcast semi-join are all hash-checked."""
    docs = _read(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 17 == 0)
    return decontam.contamination_flags(docs, ev, n=8)


def _events_sketch_path(spark: SparkSession, sf_dir: str) -> str:
    """Encode+persist the events blocks table WITH per-block sketches
    (HLL on user_id, quantile summaries on user_id/value) once per
    sf — the approx-query fixture."""
    import os
    import tempfile

    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(),
                        f"oroch_blocks_sketch_v1_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        src = _read(spark, sf_dir, "events")
        engine.encode_df(src, ["event_id"], n_buckets=8,
                         block_rows=4096,
                         sketch_cols=["user_id", "value"]) \
            .write.mode("overwrite").parquet(path)
    return path


def _q_approx_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL NDV from per-block sketches alone
    (`engine.approx_distinct`): the estimate must land within 5% of
    the exact count-distinct, which the oracle recomputes in SQL — so
    the row carries one SQL-checkable exact value plus the
    recall-style boolean."""
    blocks = spark.read.parquet(_events_sketch_path(spark, sf_dir))
    est = engine.approx_distinct(blocks, "user_id")
    exact = _read(spark, sf_dir, "events").agg(
        F.count_distinct("user_id").alias("exact_ndv"))
    return est.crossJoin(exact).select(
        F.col("exact_ndv").cast("long").alias("exact_ndv"),
        (F.abs(F.col("approx_ndv") - F.col("exact_ndv"))
         / F.col("exact_ndv") <= 0.05).alias("ndv_ok"))


def _q_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles from per-block order-stat summaries
    (`engine.approx_quantile`): each returned value's EXACT cumulative
    rank (recomputed against the raw rows in Spark) must sit within
    ±0.05 of the requested q — rank error is the sketch's contract, so
    that is what the row asserts."""
    blocks = spark.read.parquet(_events_sketch_path(spark, sf_dir))
    qs = [0.1, 0.5, 0.9]
    aq = engine.approx_quantile(blocks, "value", qs, kind="float")
    vals = (_read(spark, sf_dir, "events")
            .filter(F.col("value").isNotNull())
            .select(F.col("value").alias("_v")))
    return (aq.crossJoin(vals)
            .groupBy("q", "value")
            .agg((F.sum(F.when(F.col("_v") <= F.col("value"), 1)
                        .otherwise(0)) / F.count("*")).alias("frac"))
            .select("q", (F.abs(F.col("frac") - F.col("q")) <= 0.05)
                    .alias("rank_ok")))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """EXACTLY 50 entries — the driver runs at most ~50 queries per
    round (r3 recorded 50 rows for 56 entries, the last 6 unproven),
    so the surface is sized to get every entry a fresh CORRECTNESS
    row.

    Round-5 slot rotation (VERDICT r4 #2/#4): nine strictly-weaker
    rows swapped for the r4 library operators that had zero driver
    rows. Out (each subsumed by a surviving row, pytest coverage
    unchanged): rt_orders + rt_customer (column kinds covered by
    rt_lineitem/rt_alltypes/rt_events), topk_by_ts_events (top-k shape
    == topk_events), ann_ivf_topk + ann_pq_topk (both structures are
    components of the surviving ann_ivfpq_topk; recall rows stay for
    LSH + IVFPQ + the exact baseline), range_scan_events (lead-key
    range prune == range_agg_events' prune + ds_filter's pushdown,
    row-content face kept by scan_where_events_type),
    scan_where_events (secondary-stats prune face kept by
    agg_where_events), null_count_events (exact per-column null counts
    are table_stats_events rows), pruned_lookup_events (a point lookup
    is multi_lookup's IN-list with one element; bench still times
    lookup_point). In: dml_upsert_delete, cdc_changes, asof_join,
    range_join, pack_concat, split_by_key, contamination_flags,
    approx_ndv, approx_quantile.

    Earlier folds (r3/r4) documented in git history:
    rt_supplier/rt_nation/rt_region -> rt_dims_join; codec_histogram +
    compression_summary -> codec_report; near_dup_pairs_embeddings +
    near_dup_pairs_lsh -> near_dup_pairs; rt_part / lang_dist /
    range_count / count_where / distinct_values dropped as
    strictly-subsumed oracles.

    Library-level ops still outside the capped surface, evidenced by
    pytest + PARITY.md: dedup.connected_components / near_dup_dedup
    (exact union-find oracle in tests/test_cc_clusters.py), streaming
    dedup, grep_where, BFD packing, stratified/epoch/mixing sampling,
    media codecs (tests/test_mediacodec.py)."""
    return {
        # --- round-5 rotation: previously pytest-only operators ------
        "dml_upsert_delete_events": _q_dml_upsert_delete,
        "cdc_changes_events": _q_cdc_changes,
        "asof_join_events": _q_asof_join,
        "range_join_events": _q_range_join,
        "pack_concat_documents": _q_pack_concat,
        "split_by_key_documents": _q_split_by_key,
        "contamination_documents": _q_contamination,
        "approx_ndv_events": _q_approx_ndv,
        "approx_quantile_events": _q_approx_quantile,
        # --- round-4 additions ---------------------------------------
        "winnow_fingerprints": _q_winnow,
        "langid_documents": _q_langid,
        "near_dup_pairs": _q_near_dup_emb_lsh,
        "media_features": _q_media_features,   # oracle-checked (see docstring)
        "recompact_nation": _q_recompact,
        "rt_append_events": _q_rt_append,
        "latest_wins_events": _q_latest_wins,
        "rt_dims_join": _q_rt_dims_join,
        "ds_filter_events": _q_ds_filter,
        "codec_report": _q_codec_report,       # rows-only (metadata)
        # engine round-trips (codec suite end-to-end; SURVEY.md §2.1-2.4)
        "rt_events": _rt("events", ["event_id"]),
        "rt_lineitem": _rt("lineitem", ["l_orderkey", "l_linenumber"]),
        "rt_documents": _rt("documents", ["doc_id"]),
        "rt_embeddings": _q_rt_embeddings,
        "rt_alltypes": _q_rt_alltypes,
        "rt_transcripts": _q_rt_transcripts,   # hash-checked (r2+)
        # container/access ops (SURVEY.md §2.5)
        "multi_lookup_events": _q_multi_lookup,
        "bloom_lookup_events": _q_bloom_lookup,
        "rt_projection_events": _q_rt_projection,
        "range_agg_events": _q_range_agg,
        "scan_where_events_type": _q_scan_where_str,
        "tumbling_counts_events": _q_tumbling_counts,
        "group_count_events": _q_group_count,
        "agg_where_events": _q_agg_where,
        "lookup_join_events": _q_lookup_join,
        "topk_events": _q_topk_key,
        "sessionize_events": _q_sessionize,
        "group_agg_events": _q_group_agg,
        "table_stats_events": _q_table_stats,
        "rt_datasource_events": _q_rt_datasource,
        "lookup_conv_transcripts": _q_lookup_conv,
        "conv_stats_transcripts": _q_conv_stats,
        # training-data pipeline operators
        "dedup_exact_documents": _q_dedup_exact,
        "token_stats_documents": _q_token_stats,
        "quality_documents": _q_quality,
        "ann_cosine_topk": _q_ann_topk,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivfpq_topk": _q_ann_ivfpq,
        "minhash_dup_pairs": _q_minhash_pairs,
        "simhash_documents": _q_simhash,
        "fingerprint_documents": _q_fingerprint,
    }


def oracle_sql() -> dict[str, str]:
    stop = ",".join(f"'{s}'" for s in textstats.STOPWORDS)
    tpath = _ensure_transcripts_parquet()
    return {
        # --- round-5 rotation ------------------------------------------
        "dml_upsert_delete_events": """
            SELECT event_id, ts, user_id, event_type,
                   CASE WHEN event_id % 7 = 0 THEN value + 1000
                        ELSE value END AS value,
                   props
            FROM events WHERE event_type <> 'signup'
        """,
        "cdc_changes_events": """
            SELECT event_id, ts, user_id, event_type,
                   value + 1000 AS value, props,
                   'update_postimage' AS _change_type,
                   CAST(0 AS BIGINT) AS rel_batch
            FROM events
            WHERE event_id % 7 = 0 AND event_type <> 'signup'
            UNION ALL
            SELECT event_id, CAST(NULL AS TIMESTAMP),
                   CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
                   CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
                   'delete', CAST(1 AS BIGINT)
            FROM events WHERE event_type = 'signup'
        """,
        "asof_join_events": """
            WITH l AS (SELECT event_id, ts, user_id FROM events
                       WHERE event_type = 'click'),
                 r AS (SELECT user_id, ts AS rts, value AS r_value,
                              event_id AS rid
                       FROM events WHERE event_type = 'signup'),
                 j AS (SELECT l.event_id, l.ts, l.user_id, r.r_value,
                              r.rts,
                              ROW_NUMBER() OVER (
                                  PARTITION BY l.event_id
                                  ORDER BY r.rts DESC, r.rid DESC) AS rn
                       FROM l LEFT JOIN r
                         ON l.user_id = r.user_id AND r.rts <= l.ts)
            SELECT event_id, ts, user_id, r_value, rts AS asof_ts
            FROM j WHERE rn = 1
        """,
        "range_join_events": """
            SELECT e.event_id, e.value, i.iv_id, i.lo, i.hi
            FROM events e
            JOIN (SELECT r AS iv_id, r * 15.0 AS lo,
                         r * 15.0 + 22.0 AS hi
                  FROM range(40) t(r)) i
              ON e.value >= i.lo AND e.value <= i.hi
        """,
        "pack_concat_documents": """
            WITH d AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n
              FROM documents),
            c AS (
              SELECT doc_id, n,
                     CAST(SUM(n) OVER (ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) - n
                          AS BIGINT) AS s
              FROM d),
            p AS (
              SELECT doc_id, n, s,
                     CAST(FLOOR(s / 512) AS BIGINT) AS p0,
                     CAST(CASE WHEN n > 0
                               THEN FLOOR((s + n - 1) / 512)
                               ELSE FLOOR(s / 512) END AS BIGINT) AS p1
              FROM c),
            e AS (
              SELECT doc_id, n, s,
                     UNNEST(range(p0, p1 + 1)) AS pack_id
              FROM p)
            SELECT doc_id, CAST(0 AS INTEGER) AS bucket, pack_id,
                   CAST(GREATEST(pack_id * 512 - s, 0) AS BIGINT)
                       AS doc_from,
                   CAST(LEAST(n, (pack_id + 1) * 512 - s) AS BIGINT)
                       AS doc_to,
                   CAST(GREATEST(s - pack_id * 512, 0) AS BIGINT)
                       AS pack_offset
            FROM e
        """,
        "split_by_key_documents":
            "SELECT TRUE AS exhaustive_ok, TRUE AS disjoint_ok, "
            "TRUE AS frac_ok",
        "contamination_documents": r"""
            WITH norm AS (
              SELECT doc_id,
                     trim(regexp_replace(lower(text),
                          '[^\p{L}\p{N}]+', ' ', 'g')) AS t
              FROM documents),
            tok AS (SELECT doc_id, string_split(t, ' ') AS toks
                    FROM norm),
            g AS (
              SELECT doc_id,
                CASE WHEN len(toks) <= 8
                     THEN [array_to_string(toks, ' ')]
                     ELSE list_transform(range(1, len(toks) - 6),
                          i -> array_to_string(toks[i:i+7], ' '))
                END AS grams
              FROM tok),
            ev AS (SELECT DISTINCT UNNEST(grams) AS gram FROM g
                   WHERE doc_id % 17 = 0),
            ex AS (SELECT doc_id, UNNEST(list_distinct(grams)) AS gram
                   FROM g),
            hits AS (
              SELECT e.doc_id, count(DISTINCT e.gram) AS n_hits
              FROM ex e JOIN ev USING (gram)
              WHERE length(e.gram) > 0
              GROUP BY e.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                   coalesce(h.n_hits, 0) >= 1 AS contaminated
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN hits h ON d.doc_id = h.doc_id
        """,
        "approx_ndv_events":
            "SELECT CAST(count(DISTINCT user_id) AS BIGINT) "
            "AS exact_ndv, TRUE AS ndv_ok FROM events",
        "approx_quantile_events":
            "SELECT UNNEST([0.1, 0.5, 0.9]) AS q, TRUE AS rank_ok",
        "rt_transcripts": f"SELECT * FROM read_parquet('{tpath}')",
        "rt_events": "SELECT * FROM events",
        "rt_lineitem": "SELECT * FROM lineitem",
        "rt_documents": "SELECT * FROM documents",
        "rt_dims_join": """
            SELECT * FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
        """,
        "rt_append_events": "SELECT * FROM events",
        "ds_filter_events": """
            SELECT * FROM events
            WHERE event_id >= 1000 AND event_id < 5000
              AND event_type = 'click'
        """,
        "latest_wins_events": """
            SELECT event_id, ts, user_id, event_type,
                   CASE WHEN event_id % 10 = 0 THEN value + 100
                        ELSE value END AS value,
                   props
            FROM events
        """,
        "rt_embeddings": """
            SELECT vec_id, label,
                   CAST(len(embedding) AS INTEGER) AS dim,
                   ROUND(list_reduce(list_transform(embedding,
                        x -> x::DOUBLE * x::DOUBLE), (a,b) -> a + b), 6)
                       AS sq_sum,
                   ROUND(list_reduce(list_transform(embedding,
                        (x, i) -> x::DOUBLE * i), (a,b) -> a + b), 6)
                       AS wsum
            FROM embeddings
        """,
        "rt_alltypes": """
            SELECT l_orderkey, l_linenumber,
                   CAST(l_linenumber AS TINYINT) AS lin_i8,
                   CAST(l_suppkey AS SMALLINT) AS supp_i16,
                   CAST(CAST(l_shipdate AS DATE) AS TIMESTAMP)
                       AS ship_date,
                   CAST(l_discount AS FLOAT) AS disc_f32,
                   l_quantity > 25 AS qty_gt25,
                   CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE)
                       AS price_dec
            FROM lineitem
        """,
        "recompact_nation": "SELECT * FROM nation",
        "multi_lookup_events":
            "SELECT * FROM events "
            "WHERE event_id IN (3, 777, 4242, 9999)",
        "bloom_lookup_events":
            "SELECT * FROM events WHERE props = '{\"k\": 42}'",
        "rt_projection_events": "SELECT event_id, value FROM events",
        "range_agg_events": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(user_id) AS BIGINT) AS sum_v,
                   CAST(min(user_id) AS BIGINT) AS min_v,
                   CAST(max(user_id) AS BIGINT) AS max_v
            FROM events WHERE event_id BETWEEN 500 AND 7500
        """,
        "lookup_conv_transcripts": f"""
            SELECT * FROM read_parquet('{tpath}')
            WHERE conv_id = 'conv-00000042'
        """,
        "conv_stats_transcripts": f"""
            SELECT conv_id,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(turn_idx) AS BIGINT) AS sum_v,
                   CAST(min(turn_idx) AS BIGINT) AS min_v,
                   CAST(max(turn_idx) AS BIGINT) AS max_v
            FROM read_parquet('{tpath}') GROUP BY conv_id
        """,
        "scan_where_events_type": """
            SELECT * FROM events
            WHERE event_type BETWEEN 'click' AND 'error'
        """,
        "tumbling_counts_events": """
            SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w_start,
                   COUNT(*) AS n_events,
                   MIN(event_id) AS min_id,
                   MAX(event_id) AS max_id
            FROM events GROUP BY 1
        """,
        "group_count_events": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows
            FROM events GROUP BY event_type
        """,
        "agg_where_events": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(event_id) AS BIGINT) AS sum_v,
                   CAST(min(event_id) AS BIGINT) AS min_v,
                   CAST(max(event_id) AS BIGINT) AS max_v
            FROM events WHERE user_id BETWEEN 2 AND 8
        """,
        "lookup_join_events": """
            SELECT * FROM events WHERE event_id IN
                (SELECT event_id FROM events WHERE event_type = 'signup')
        """,
        "topk_events": """
            SELECT * FROM events ORDER BY event_id DESC LIMIT 10
        """,
        "rt_datasource_events": "SELECT * FROM events",
        "table_stats_events": """
            SELECT 'event_id' AS col, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) - count(event_id) AS BIGINT) AS n_nulls,
                   CAST(min(event_id) AS VARCHAR) AS min_v,
                   CAST(max(event_id) AS VARCHAR) AS max_v FROM events
            UNION ALL
            SELECT 'user_id', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(user_id) AS BIGINT),
                   CAST(min(user_id) AS VARCHAR),
                   CAST(max(user_id) AS VARCHAR) FROM events
            UNION ALL
            SELECT 'ts', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(ts) AS BIGINT),
                   CAST(epoch_us(min(ts)) AS VARCHAR),
                   CAST(epoch_us(max(ts)) AS VARCHAR) FROM events
            UNION ALL
            SELECT 'event_type', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(event_type) AS BIGINT),
                   min(event_type), max(event_type) FROM events
        """,
        "group_agg_events": """
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(user_id) AS BIGINT) AS sum_v,
                   CAST(min(user_id) AS BIGINT) AS min_v,
                   CAST(max(user_id) AS BIGINT) AS max_v
            FROM events GROUP BY event_type
        """,
        "sessionize_events": """
            WITH marked AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                             > 1800 * 1000000
                          THEN 1 ELSE 0 END AS ns
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), tagged AS (
              SELECT user_id, ts, event_id,
                     SUM(ns) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) - 1
                         AS session_idx
              FROM marked
            )
            SELECT user_id,
                   CAST(session_idx AS BIGINT) AS session_idx,
                   CAST(count(*) AS BIGINT) AS n_events,
                   min(ts) AS t_start, max(ts) AS t_end,
                   (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0
                       AS duration_s,
                   CAST(min(event_id) AS BIGINT) AS first_id,
                   CAST(max(event_id) AS BIGINT) AS last_id
            FROM tagged GROUP BY user_id, session_idx
        """,
        "dedup_exact_documents": """
            SELECT min(doc_id) AS doc_id, text,
                   count(*) AS dup_cnt
            FROM documents GROUP BY text
        """,
        "token_stats_documents": f"""
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(text,
                        '{textstats.BPE_PATTERN}')) AS BIGINT)
                       AS n_bpe_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   length(text) / greatest(len(string_split(text, ' ')), 1)
                       AS mean_tok_len
            FROM documents
        """,
        "quality_documents": f"""
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                       / greatest(length(text), 1) AS alpha_ratio,
                   length(regexp_replace(text, '[^0-9]', '', 'g'))
                       / greatest(length(text), 1) AS digit_ratio,
                   length(regexp_replace(text, '[^ ]', '', 'g'))
                       / greatest(length(text), 1) AS space_ratio,
                   CAST(len(list_intersect(string_split(text, ' '),
                                           [{stop}])) AS BIGINT)
                       AS stopword_hits
            FROM documents
        """,
        "fingerprint_documents": """
            SELECT doc_id,
                   md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g'))
                       AS fingerprint
            FROM documents
        """,
        "winnow_fingerprints": """
            WITH tok AS (
              SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
            g AS (
              SELECT doc_id,
                CASE WHEN len(toks) <= 5
                     THEN [array_to_string(toks, ' ')]
                     ELSE list_transform(range(1, len(toks) - 3),
                          i -> array_to_string(toks[i:i+4], ' '))
                END AS grams
              FROM tok),
            h AS (
              SELECT doc_id, list_transform(grams,
                s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
              FROM g),
            w AS (
              SELECT doc_id,
                CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
                     ELSE list_transform(range(1, len(hs) - 2),
                          i -> list_min(hs[i:i+3]))
                END AS wins
              FROM h),
            fp AS (SELECT doc_id, list_distinct(wins) AS fps FROM w)
            SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
                   list_min(fps) AS fp_min, list_max(fps) AS fp_max
            FROM fp
        """,
        "langid_documents": f"""
            SELECT doc_id,
                   CAST(len(list_intersect(
                        string_split(lower(text), ' '), [{stop}]))
                     AS BIGINT) AS en_evidence,
                   CASE WHEN len(list_intersect(
                        string_split(lower(text), ' '), [{stop}])) >= 2
                        THEN 'en' ELSE 'other' END AS lang_pred
            FROM documents
        """,
        "minhash_dup_pairs": """
            WITH tok AS (
              SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
            sh AS (
              SELECT doc_id, list_distinct(
                CASE WHEN len(toks) <= 5
                     THEN [array_to_string(toks, ' ')]
                     ELSE list_transform(range(1, len(toks) - 3),
                          i -> array_to_string(toks[i:i+4], ' '))
                END) AS grams
              FROM tok),
            ex AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
            sz AS (SELECT doc_id, len(grams) AS n FROM sh),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(*) AS i
              FROM ex a JOIN ex b
                ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b,
                   i::DOUBLE / (sa.n + sb.n - i) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b
            WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.5
        """,
        "simhash_documents": """
            WITH tok AS (
              SELECT doc_id, UNNEST(string_split(text, ' ')) AS t
              FROM documents),
            h AS (
              SELECT doc_id,
                     ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv
              FROM tok),
            votes AS (
              SELECT doc_id, i,
                     SUM(CASE WHEN (hv >> i) & 1 = 1
                         THEN 1 ELSE -1 END) AS v
              FROM h CROSS JOIN (SELECT UNNEST(range(16)) AS i)
              GROUP BY 1, 2)
            SELECT doc_id,
                   SUM(CASE WHEN v > 0 THEN 1 << i ELSE 0 END)::BIGINT
                       AS simhash
            FROM votes GROUP BY doc_id
        """,
        "near_dup_pairs": """
            WITH pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     UNNEST(a.embedding)::DOUBLE AS x,
                     UNNEST(b.embedding)::DOUBLE AS y
              FROM embeddings a, embeddings b
              WHERE a.vec_id < b.vec_id),
            s AS (SELECT id_a, id_b, SUM(x*y) AS dot,
                         SUM(x*x) AS nx, SUM(y*y) AS ny
                  FROM pairs GROUP BY id_a, id_b)
            SELECT id_a, id_b,
                   ROUND(dot / (GREATEST(SQRT(nx), 1e-30)
                                * GREATEST(SQRT(ny), 1e-30)), 6) AS cosine
            FROM s
            WHERE ROUND(dot / (GREATEST(SQRT(nx), 1e-30)
                               * GREATEST(SQRT(ny), 1e-30)), 6) >= 0.5
        """,
        "media_features": """
            SELECT doc_id AS media_id,
                   CAST(length(text) AS BIGINT) AS n_bytes,
                   ROUND(({terms}) / 8.0, 4) AS f0
            FROM documents
        """.format(terms=" + ".join(
            f"CASE WHEN length(text) >= {1 + 8 * j} THEN "
            f"ascii(substr(text, {1 + 8 * j}, 1)) ELSE 0 END"
            for j in range(8))),
        "ann_lsh_topk": "SELECT 10 AS k, TRUE AS recall_ok",
        "ann_ivfpq_topk": "SELECT 10 AS k, TRUE AS recall_ok",
        "ann_cosine_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings
                       WHERE vec_id = 0),
            pairs AS (SELECT e.vec_id,
                             UNNEST(e.embedding)::DOUBLE AS x,
                             UNNEST(q.qv)::DOUBLE AS y
                      FROM embeddings e, q),
            s AS (SELECT vec_id, SUM(x*y) AS dot, SUM(x*x) AS nx,
                         SUM(y*y) AS ny
                  FROM pairs GROUP BY vec_id)
            SELECT vec_id,
                   ROUND(dot / (GREATEST(SQRT(nx), 1e-30) * SQRT(ny)), 6)
                       AS cosine
            FROM s ORDER BY cosine DESC, vec_id LIMIT 10
        """,
    }
