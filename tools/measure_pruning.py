"""Measure block-pruning effectiveness: for each pruned operator, how
many blocks does the metadata layer actually skip on realistic data?
Writes PRUNING.md. Run after operator changes:
    python3 tools/measure_pruning.py
Numbers are exact block counts (deterministic data + encode), not
timings — they hold at any scale because pruning ratios depend on
layout, not hardware.
"""
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.1"


def main() -> None:
    import tempfile

    from pyspark.sql import SparkSession, functions as F

    from oroch_spark import engine, transcripts

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.parquet.outputTimestampType",
                     "TIMESTAMP_MICROS")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    rows = []

    def add(op, desc, total, survivors):
        rows.append((op, desc, total, survivors,
                     f"{100.0 * (1 - survivors / total):.1f}%"))

    def kept(blocks, test):
        """Blocks the block index keeps by ``test(ix, i)``."""
        ix = engine._BlockIndex.of(blocks)
        return len(ix.keep(lambda i: test(ix, i)))

    def bloom_kept(blocks, col, value, field="bm"):
        return kept(blocks, lambda ix, i: ix.bloom(i, col, value,
                                                   engine.K_STR, field))

    # --- events (sf0.1, 100k rows, event_id key, 512-row blocks) -------
    ev = spark.read.parquet(f"{SF}/events.parquet")
    kinds = engine.column_kinds(ev.schema)
    evb_dir = os.path.join(tempfile.gettempdir(), "oroch_prune_ev")
    if not os.path.exists(os.path.join(evb_dir, "_SUCCESS")):
        engine.encode_df(ev, ["event_id"], n_buckets=8, block_rows=512,
                         bloom_cols=["props"]) \
            .write.mode("overwrite").parquet(evb_dir)
    evb = spark.read.parquet(evb_dir).persist()
    total = evb.count()

    add("lookup (point, lead key)", "event_id = 4242", total,
        engine.prune_blocks(evb, 4242).count())
    add("lookup_in (8 keys)", "event_id IN (...)", total,
        engine.prune_blocks_in(
            evb, [3, 777, 4242, 9999, 12000, 55555, 70000, 99999])
        .count())
    add("range_scan (0.1% of key space)", "event_id in [1000, 1100]",
        total, engine.prune_blocks_range(evb, 1000, 1100).count())
    n_rows_total = int(evb.agg(F.sum("n")).collect()[0][0])
    inside = engine._KeyPred(lo=500, hi=75000)
    add("range_count (75% of key space): blocks never DECODED",
        "interior blocks answer from metadata", total,
        engine.prune_blocks_range(evb, 500, 75000).count()
        - kept(evb, lambda ix, i: engine._stats_inside(
            *ix.bounds(i, 500), inside)))
    # secondary zone map: ts correlates with event_id block order
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    lo = int(ev.agg(F.min(ts_us)).collect()[0][0])
    hi = int(ev.agg(F.max(ts_us)).collect()[0][0])
    cut = lo + (hi - lo) // 100
    add("scan_where (secondary col, correlated)",
        "ts in first 1% of time range", total,
        engine._prune_where(evb, [("ts", lo, cut)]).count())
    add("lookup_where (Bloom, PRESENT value)",
        "props = '{\"k\": 42}' — 1% of rows, so statistically present "
        "in ~every 512-row block; keeping them all is correct", total,
        bloom_kept(evb, "props", '{"k": 42}'))
    add("lookup_where (Bloom, ABSENT value)", "props = 'no-such'",
        total, bloom_kept(evb, "props", "no-such"))

    # topk: candidate blocks after the engine's threshold prune
    add("topk_key (k=10)", "ORDER BY event_id DESC LIMIT 10", total,
        len(engine._topk_keep(engine._BlockIndex.of(evb), 10, False,
                              lambda ix, i: ix.key[i])))

    # --- z-order clustering (events, user_id x value) -------------------
    # Same table re-clustered by the Morton interleave of two mutually
    # uncorrelated columns; per-column (lo, hi) block stats then prune
    # range predicates on EITHER column. The key-sorted layout above
    # keeps ~every block for the same predicates (stats span the domain).
    evi = ev.withColumn("v_int", (F.col("value") * 100).cast("long"))
    zb_dir = os.path.join(tempfile.gettempdir(), "oroch_prune_zorder")
    if not os.path.exists(os.path.join(zb_dir, "_SUCCESS")):
        engine.encode_df_zorder(evi, ["user_id", "v_int"], n_buckets=8,
                                block_rows=512) \
            .write.mode("overwrite").parquet(zb_dir)
    zb = spark.read.parquet(zb_dir).persist()
    z_total = zb.count()
    u_hi = int(evi.approxQuantile("user_id", [0.1], 0.0)[0])
    v_hi = int(evi.approxQuantile("v_int", [0.1], 0.0)[0])

    def z_kept(blocks, col, lo, hi):
        return engine._prune_where(blocks, [(col, lo, hi)]).count()

    add("scan_where (z-ordered, col 1 of 2)",
        "user_id in lowest 10% of rows — uncorrelated with any single "
        "sort key", z_total, z_kept(zb, "user_id", 0, u_hi))
    add("scan_where (z-ordered, col 2 of 2)",
        "value in lowest 10% of rows", z_total,
        z_kept(zb, "v_int", 0, v_hi))
    add("scan_where (same predicates, single-key layout — the contrast)",
        "user_id lowest 10% over the event_id-keyed table", total,
        z_kept(evb, "user_id", 0, u_hi))
    # compound AND: on the z layout the per-column skips compose
    u30 = int(evi.approxQuantile("user_id", [0.3], 0.0)[0])
    v30 = int(evi.approxQuantile("v_int", [0.3], 0.0)[0])
    both = [("user_id", 0, u30), ("v_int", 0, v30)]
    add("scan_where_multi (z-ordered, user_id AND value)",
        "both cols in lowest 30% of rows (~9% of rows match)", z_total,
        engine._prune_where(zb, both).count())
    add("scan_where_multi (same AND, single-key layout — the contrast)",
        "both cols lowest 30% over the event_id-keyed table", total,
        engine._prune_where(evb, both).count())

    # --- transcripts (5.8M turns, string conv key) ----------------------
    src_dir = os.path.join(tempfile.gettempdir(),
                           "oroch_bench_src_12000_256f")
    if os.path.exists(src_dir):
        tr = spark.read.parquet(src_dir)
        trb_dir = os.path.join(tempfile.gettempdir(), "oroch_prune_tr")
        if not os.path.exists(os.path.join(trb_dir, "_SUCCESS")):
            engine.encode_df(tr, ["conv_id", "turn_idx"], n_buckets=32,
                             block_rows=8192, text_cols=["text"]) \
                .write.mode("overwrite").parquet(trb_dir)
        trb = spark.read.parquet(trb_dir).persist()
        t_total = trb.count()
        add("lookup (string key, 5.8M-turn table)",
            "conv_id = 'conv-00004242'", t_total,
            engine.prune_blocks(trb, "conv-00004242").count())
        add("range_scan (string key range)",
            "conv_id in ['conv-00001000','conv-00001099']", t_total,
            engine.prune_blocks_range(trb, "conv-00001000",
                                      "conv-00001099").count())

        # token Blooms over the text column (grep_where)
        tt_dir = os.path.join(tempfile.gettempdir(),
                              "oroch_prune_tr_tok")
        if not os.path.exists(os.path.join(tt_dir, "_SUCCESS")):
            engine.encode_df(tr, ["conv_id", "turn_idx"], n_buckets=32,
                             block_rows=8192, text_cols=["text"],
                             token_bloom_cols=["text"]) \
                .write.mode("overwrite").parquet(tt_dir)
        ttb = spark.read.parquet(tt_dir).persist()
        tt_total = ttb.count()
        add("grep_where (token Bloom, ABSENT word, 5.8M turns)",
            "text ∋ 'qqzzxnope' — needle not in the corpus: answered "
            "at metadata speed, zero payload decodes", tt_total,
            bloom_kept(ttb, "text", "qqzzxnope", "tbm"))
        import glob

        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        f0 = sorted(glob.glob(os.path.join(src_dir, "*.parquet")))[0]
        toks = pc.unique(pc.list_flatten(pc.split_pattern_regex(
            pq.read_table(f0, columns=["text"]).column("text")
            .combine_chunks(), engine._TOKEN_SPLIT_RE))).to_pylist()
        word = min(t for t in toks if t)  # deterministic corpus token
        add("grep_where (token Bloom, PRESENT word)",
            f"text ∋ {word!r} — the synthetic corpus has a 513-word "
            "vocabulary, so any real word is in every 8192-row block; "
            "keeping them all is correct (block-sparse tokens — real "
            "corpora's identifiers — skip like the documents case in "
            "test_grep_where)", tt_total,
            bloom_kept(ttb, "text", word, "tbm"))

    out = ["# PRUNING — measured block-skip ratios\n",
           "Generated by `python3 tools/measure_pruning.py`. Exact "
           "block counts on deterministic data (events sf0.1, 512-row "
           "blocks, 8 buckets; bench transcripts 5.8M turns, 8192-row "
           "blocks, 32 buckets). Ratios depend on layout and "
           "selectivity, not hardware — they are the scale story: at "
           "1000x the data the same predicates skip the same fraction "
           "of (1000x more) blocks, and the skipped blocks' payload "
           "bytes never leave disk (the driver-side block index decides "
           "from the non-payload columns, and the kept block ids are "
           "parquet PushedFilters).\n",
           "| operator | predicate | blocks total | blocks kept | "
           "pruned |",
           "|---|---|---|---|---|"]
    for op, desc, tot, kept, pct in rows:
        out.append(f"| {op} | {desc} | {tot} | {kept} | {pct} |")
    with open(os.path.join(REPO, "PRUNING.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    print("wrote PRUNING.md")
    spark.stop()


if __name__ == "__main__":
    main()
