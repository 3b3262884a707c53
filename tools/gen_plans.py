"""Regenerate PLANS.md: captured `explain("formatted")` output of the
headline operators, with a one-line scale claim per plan. Run after any
operator change:  python3 tools/gen_plans.py
"""
import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    import __spark_entry__ as entry
    from oroch_spark import engine
    from oroch_spark.operators import dedup, multimodal, similarity

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    events = spark.read.parquet(f"{SF}/events.parquet")
    qv = entry._query_vec(SF)

    sections = []

    sections.append((
        "maponly_encode (shuffle-free; data read happens inside the UDF)",
        "One narrow stage: file-task rows in, compressed blocks out; "
        "no exchange anywhere, executor memory O(block_rows).",
        plan_of(engine.encode_parquet_maponly(
            spark, f"{SF}", ["event_id"],
            file_filter=lambda f: "events" in f))))

    sections.append((
        "exact_dedup (single shuffle on the 128-bit fingerprint)",
        "Exchange key is the xxhash64 pair (16 bytes/doc), never the "
        "document text; partial aggregation collapses duplicates "
        "map-side before the wire.",
        plan_of(dedup.exact_dedup(docs))))

    sections.append((
        "cosine_topk (one scan; TakeOrderedAndProject partial top-k)",
        "No global sort: per-partition top-k, k rows to the driver.",
        plan_of(similarity.cosine_topk(emb, qv, k=10))))

    import tempfile
    bdir = os.path.join(tempfile.gettempdir(), "oroch_plans_blocks")
    engine.encode_df(events, ["event_id"], n_buckets=4,
                     bloom_cols=["props"]) \
        .write.mode("overwrite").parquet(bdir)
    # one bucket: each block holds a run of keys, so the sections on
    # the block index have blocks to skip
    sdir = os.path.join(tempfile.gettempdir(), "oroch_plans_sorted")
    engine.encode_df(events, ["event_id"], n_buckets=1, block_rows=4096) \
        .write.mode("overwrite").parquet(sdir)
    sections.append((
        "lookup (bare scan: kept blocks decoded on the driver; "
        "one-bucket layout)",
        "On a bare scan the driver-side block index tests the TRUE "
        "min/max (key_lo, key_hi) bounds in Python, and the row groups "
        "that hold the kept blocks fit one input split (Spark's split "
        "size: min(maxPartitionBytes, max(openCostInBytes, scan bytes "
        "/ default parallelism))): pyarrow reads just those "
        "blocks, the lookup kernel runs in-process, and the matched "
        "rows are a LocalTableScan. No Spark job runs.",
        plan_of(engine.lookup(
            spark.read.parquet(sdir),
            engine.column_kinds(events.schema), "event_id", 777))))

    sections.append((
        "lookup (any other frame, here select(\"*\"): block index -> "
        "kept blocks by id -> key-only decode)",
        "Any frame that is not a bare scan collects the same index in "
        "one metadata job, and the kept blocks are read by id: "
        "`bucket = b AND block_idx IN (...)` is PushedFilters, so "
        "parquet row-group stats skip the rest on disk (a key no block "
        "can hold runs no job at all; NULL bounds keep the block). "
        "Survivors reach the mapInArrow kernel, which decodes only the "
        "key column and batch-fetches matched rows. A bare scan whose "
        "kept row groups exceed one input split reads them the same "
        "way.",
        plan_of(engine.lookup(
            spark.read.parquet(sdir).select("*"),
            engine.column_kinds(events.schema), "event_id", 777))))

    sections.append((
        "range_agg (SUM/MIN/MAX/COUNT answered from block metadata; "
        "bare scan)",
        "The block index splits the blocks on the driver: interior "
        "blocks (bounds inside, no null key) fold from their stored "
        "stats, and the boundary blocks, whose row groups fit one "
        "input split, are read with pyarrow and reduce to one partial "
        "row each in the same kernel, in-process. NULL/absent stats "
        "degrade to the decode path, never to a wrong answer. The "
        "answer is a LocalTableScan; no Spark job runs.",
        plan_of(engine.range_agg(
            spark.read.parquet(bdir),
            engine.column_kinds(events.schema), "event_id", 1000, 9000,
            "user_id"))))

    sections.append((
        "range_agg (any other frame, here select(\"*\"))",
        "The same split over the collected index: only the boundary "
        "blocks run, in one job while the query is built, with no "
        "exchange, each block decoding two columns and reducing to one "
        "partial row inside the kernel. The answer is again a "
        "LocalTableScan.",
        plan_of(engine.range_agg(
            spark.read.parquet(bdir).select("*"),
            engine.column_kinds(events.schema), "event_id", 1000, 9000,
            "user_id"))))

    sections.append((
        "range_scan with projection (pruned scan -> 2-column decode)",
        "The block index keeps the blocks whose true-min/max (key_lo, "
        "key_hi) overlap the range, and their ids push to the blocks "
        "parquet scan; the decode kernel touches only the requested "
        "columns' payload slices (projection pushdown into the block "
        "format).",
        plan_of(engine.range_scan(
            spark.read.parquet(bdir),
            engine.column_kinds(events.schema), "event_id", 1000, 1100,
            columns=["user_id", "value"]))))

    sections.append((
        "tumbling_window_agg (1h windows over the decoded blocks table)",
        "Decode feeds only the ts/event_id payload slices (projection "
        "pushdown into the block format); the window count partial-"
        "aggregates map-side before the single exchange on the window "
        "bucket.",
        plan_of(engine.decode_df(
            spark.read.parquet(bdir),
            engine.column_kinds(events.schema),
            columns=["event_id", "ts"])
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("w_start"), "n_events"))))

    ev_kinds = engine.column_kinds(events.schema)
    t0 = engine.table_stats(spark.read.parquet(sdir), ev_kinds,
                            ["ts"]).first().min_long  # epoch-micros
    sections.append((
        "scan_where (secondary zone map on a NON-key column)",
        "Range predicate on ts — not the lead key, but correlated with "
        "the event_id order — prunes via the per-column (lo, hi) stats "
        "in the desc JSON, read by the block index on the driver "
        "before any payload reaches the Python decode kernel; the kept "
        "ids are a parquet PushedFilter.",
        plan_of(engine.scan_where(
            spark.read.parquet(sdir), ev_kinds, "ts", t0,
            t0 + 3600 * 10 ** 6, columns=["event_id", "ts"]))))

    sections.append((
        "group_count (GROUP BY pushdown into the codec; bare scan)",
        "Each block emits its (value, count) pairs from inside the "
        "decode kernel — dictionary/RLE blocks never rebuild row "
        "values. On a bare scan that fits one input split the kernel "
        "runs on the driver over the blocks pyarrow reads and the "
        "pairs sum there (Spark's float-key rules: -0.0 = 0.0, one NaN "
        "group): a LocalTableScan, no job. Sums past one Arrow batch "
        "(spark.sql.execution.arrow.maxRecordsPerBatch values) are "
        "left to Spark, as below.",
        plan_of(engine.group_count(
            spark.read.parquet(bdir),
            engine.column_kinds(events.schema), "event_type"))))

    sections.append((
        "group_count (any other frame, here select(\"*\"))",
        "The kernel runs in mapInArrow and HashAggregate "
        "partial-aggregates the pairs map-side before the one exchange "
        "on the low-cardinality group key.",
        plan_of(engine.group_count(
            spark.read.parquet(bdir).select("*"),
            engine.column_kinds(events.schema), "event_type"))))

    sections.append((
        "group_agg (multi-column GROUP BY aggregates via Arrow hash group-by)",
        "Each block reduces C++-side to one partial row per distinct "
        "group; HashAggregate partial-aggregates those map-side and "
        "the single exchange carries O(groups), not O(rows).",
        plan_of(engine.group_agg(
            spark.read.parquet(bdir),
            engine.column_kinds(events.schema), "event_type",
            "user_id"))))

    sections.append((
        "agg_where (metadata aggregates under a secondary predicate)",
        "Split on the block index like range_agg: blocks whose "
        "PREDICATE-column stats prove containment answer from the "
        "AGGREGATE column's stored (lo, hi, s) stats on the driver — "
        "no payload decode; only straddlers decode, and only two "
        "columns, each reduced to one partial row in one job. The "
        "answer is a LocalTableScan.",
        plan_of(engine.agg_where(
            spark.read.parquet(bdir),
            engine.column_kinds(events.schema), "user_id", 2, 8,
            "event_id"))))

    sections.append((
        "lookup_join (distributed IN: bucket-grid prune, no nested loop)",
        "The keys DataFrame is broadcast, never collected. The block "
        "prune equi-joins coarse key-domain buckets (BroadcastHashJoin; "
        "containment is the residual condition) on a metadata "
        "projection, reduces to a (bucket, block_idx) candidate-id set, "
        "and joins back broadcast; semi-join #2 exact-matches the "
        "decoded key. No BroadcastNestedLoopJoin anywhere; the blocks "
        "table never shuffles. The grid's origin and width come from "
        "the block index. (Grid forced here — tables under "
        "engine._LJ_GRID_MIN_BLOCKS blocks, like this sf0.01 one, "
        "deliberately keep the direct range semi-join: its nested loop "
        "over <=1024 metadata rows is cheaper than three extra "
        "exchanges. This plan is the 10^6+-block path.)",
        plan_of(engine.lookup_join(
            spark.read.parquet(bdir),
            engine.column_kinds(events.schema), "event_id",
            events.filter(F.col("event_type") == "signup")
            .select("event_id"), grid_min_blocks=0))))

    sections.append((
        "topk_key (ORDER BY key LIMIT k, zone-pruned; bare scan, "
        "one-bucket layout)",
        "Only blocks that can hold a top-k row decode: the threshold "
        "walks the block index on the driver. Their row groups fit one "
        "input split, so pyarrow reads them, the decode kernel runs "
        "in-process and pyarrow sorts and keeps k rows in Spark's "
        "order (ASC nulls first, DESC nulls last, NaN above every "
        "number): a LocalTableScan, no job.",
        plan_of(engine.topk_key(
            spark.read.parquet(sdir),
            engine.column_kinds(events.schema), "event_id", 10))))

    sections.append((
        "topk_key (any other frame, here select(\"*\"))",
        "The kept blocks are read by id (PushedFilters) and "
        "TakeOrderedAndProject finishes — per-partition partial top-k, "
        "no global sort, no exchange.",
        plan_of(engine.topk_key(
            spark.read.parquet(sdir).select("*"),
            engine.column_kinds(events.schema), "event_id", 10))))

    sections.append((
        "lookup_where (per-block Bloom filter probe)",
        "Equality on a high-cardinality column UNCORRELATED with block "
        "order: the block index tests the k Bloom probes of every "
        "block on the driver — blocks whose filter proves the value "
        "absent are never read (the kept ids are PushedFilters); "
        "null/missing filters keep the block.",
        plan_of(engine.lookup_where(
            spark.read.parquet(bdir),
            engine.column_kinds(events.schema), "props", '{"k": 42}'))))

    from oroch_spark.sources import datasource
    datasource.register(spark)
    odir = os.path.join(tempfile.gettempdir(), "oroch_plans_source")
    events.repartitionByRange(4, "event_id") \
        .sortWithinPartitions("event_id").write.format("oroch") \
        .mode("overwrite").option("key_cols", "event_id") \
        .option("bloom_cols", "user_id").save(odir)
    sections.append((
        "format(\"oroch\") filtered read (planned on the block index)",
        "The key range, the Bloom column's equality and the null test "
        "are accepted: planning keeps the blocks the block index "
        "admits (lead-key bounds, desc stats, null counts, Blooms), "
        "one partition per row group of kept blocks, and each task "
        "filters its decoded rows exactly in Arrow, so the BatchScan "
        "has no residual Filter above it for them.",
        plan_of(spark.read.format("oroch").load(odir).filter(
            "event_id >= 100 AND event_id < 2000 AND user_id = 7 "
            "AND props IS NOT NULL"))))

    sections.append((
        "pq_adc_scores (ANN scoring over 8-byte PQ codes)",
        "One narrow ArrowEvalPython stage over the code column only — "
        "the corpus float vectors are never read; lookup tables ship "
        "in the UDF closure (m x ksub doubles).",
        (lambda books: plan_of(similarity.pq_adc_scores(
            similarity.pq_encode(emb, books), books, qv)))(
            similarity.pq_train(emb, m=8, ksub=32))))

    sections.append((
        "ivf_assign (pandas-UDF centroid assignment)",
        "Centroid matrix ships once in the UDF closure; ArrowEvalPython "
        "plan is O(1) in centroid count (no literal expression trees).",
        plan_of(similarity.ivf_assign(
            emb, __import__("numpy").zeros((16, 64))))))

    sections.append((
        "near_dup_pairs LSH candidates (banded self-join, OR-amplified)",
        "Pair join runs inside (table, bucket) groups only; buckets come "
        "from one Arrow-batched matmul per batch.",
        plan_of(similarity.cosine_near_dup_pairs(
            emb, threshold=0.5, n_planes=3, n_tables=4, dim=64))))

    sections.append((
        "media extract_features (vectorized Arrow kernel)",
        "Binary payloads stream zero-copy into mapInArrow; one "
        "fancy-index + one mean per batch, no per-row Python.",
        plan_of(multimodal.extract_features(
            multimodal.media_from_documents(docs)))))

    sections.append((
        "token_stats (whole-stage codegen, pushed column pruning)",
        "Scalar text features stay JVM-side; ReadSchema prunes to the "
        "two used columns.",
        plan_of(spark.read.parquet(f"{SF}/documents.parquet")
                .transform(lambda d: __import__(
                    "oroch_spark.operators.textstats",
                    fromlist=["token_stats"]).token_stats(d)))))

    out = ["# PLANS — physical plans of the headline operators\n",
           "Generated by `python3 tools/gen_plans.py` "
           "(`df.explain(\"formatted\")` captures): encode is "
           "shuffle-free, aggregations partial-aggregate before their "
           "one exchange keyed on fixed-width hashes, top-k never "
           "sorts globally, lookups prune on block metadata before "
           "touching payloads, and python kernels are Arrow-batched "
           "with O(1)-size plans.\n"]
    for title, claim, plan in sections:
        out.append(f"## {title}\n\n{claim}\n\n```\n{plan}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
