"""Group-by/distinct pushdown, secondary-predicate aggregates,
DataFrame-keyed lookup join, and top-k-by-key pruning — the query
surface added on top of the zone-map/Bloom stack. Every result is
checked against a plain DataFrame computation on the source; pruning
is checked to actually skip blocks where the test controls layout."""
import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import Row, functions as F

from oroch_spark import engine
from oroch_spark.kernels import strings as sc
from desc_stats import col_stats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark, tmp_path_factory):
    src = spark.read.parquet(f"{SF}/events.parquet")
    path = str(tmp_path_factory.mktemp("gtj") / "blocks")
    engine.encode_df(src, ["event_id"], n_buckets=4, block_rows=512) \
        .write.mode("overwrite").parquet(path)
    return src, spark.read.parquet(path), engine.column_kinds(src.schema)


# --- kernel: value counts straight off the codec -------------------------

def test_value_counts_dict_block():
    vals = ["a", "b", "a", "c", "a", "b"] * 50
    blob, d = sc.encode_str_block(pa.array(vals))
    got_v, got_c = sc.str_block_value_counts(blob, len(vals))
    got = dict(zip(got_v.to_pylist(), got_c.tolist()))
    assert got == {"a": 150, "b": 100, "c": 50}


def test_value_counts_rle_block():
    vals = ["x"] * 400 + ["y"] * 100 + ["x"] * 12
    blob, d = sc.encode_str_block(pa.array(vals))
    assert d.codec == sc.RLE_STR
    got_v, got_c = sc.str_block_value_counts(blob, len(vals))
    got = dict(zip(got_v.to_pylist(), got_c.tolist()))
    assert got == {"x": 412, "y": 100}


def test_value_counts_plain_block():
    vals = [f"unique-{i:05d}" for i in range(64)]
    blob, d = sc.encode_str_block(pa.array(vals))
    got_v, got_c = sc.str_block_value_counts(blob, len(vals))
    assert sorted(got_v.to_pylist()) == vals
    assert got_c.sum() == 64 and (got_c == 1).all()


# --- group_count / distinct_values ----------------------------------------

def test_group_count_string(spark, events):
    src, blocks, kinds = events
    got = {r["event_type"]: r["n_rows"]
           for r in engine.group_count(blocks, kinds,
                                       "event_type").collect()}
    exp = {r["event_type"]: r["cnt"]
           for r in src.groupBy("event_type")
                       .agg(F.count("*").alias("cnt")).collect()}
    assert got == exp


def test_group_count_integer(spark, events):
    src, blocks, kinds = events
    got = {r["user_id"]: r["n_rows"]
           for r in engine.group_count(blocks, kinds, "user_id").collect()}
    exp = {r["user_id"]: r["cnt"]
           for r in src.groupBy("user_id")
                       .agg(F.count("*").alias("cnt")).collect()}
    assert got == exp


def test_group_count_nullable(spark):
    rows = [Row(k=i, v="a" if i % 3 == 0 else (None if i % 3 == 1
                                               else "b"))
            for i in range(300)]
    src = spark.createDataFrame(rows)
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["k"], n_buckets=2, block_rows=64)
    got = {r["v"]: r["n_rows"]
           for r in engine.group_count(blocks, kinds, "v").collect()}
    assert got == {"a": 100, None: 100, "b": 100}


def test_distinct_values(spark, events):
    src, blocks, kinds = events
    got = sorted(r[0] for r in engine.distinct_values(
        blocks, kinds, "event_type").collect())
    exp = sorted(r[0] for r in src.select("event_type")
                 .distinct().collect())
    assert got == exp


# --- agg_where -------------------------------------------------------------

def test_agg_where_matches_source(spark, events):
    src, blocks, kinds = events
    got = engine.agg_where(blocks, kinds, "user_id", 2, 8,
                           "event_id").collect()[0]
    exp = (src.filter("user_id BETWEEN 2 AND 8")
              .agg(F.count("*").alias("n"), F.sum("event_id").alias("s"),
                   F.min("event_id").alias("lo"),
                   F.max("event_id").alias("hi")).collect()[0])
    assert (got["n_rows"], got["sum_v"], got["min_v"], got["max_v"]) == \
        (exp["n"], exp["s"], exp["lo"], exp["hi"])


def test_agg_where_empty_range(spark, events):
    src, blocks, kinds = events
    got = engine.agg_where(blocks, kinds, "user_id", 10**9, 2 * 10**9,
                           "event_id").collect()[0]
    assert got["n_rows"] == 0 and got["sum_v"] is None


def test_agg_where_interior_blocks_answer_from_stats(spark):
    """On a table key-sorted by the predicate column, a wide range is
    answered almost entirely from metadata: force it by predicating on
    the lead key — every fully-contained block must come from the
    stats-only path (checked by equality with the source, with the
    layout guaranteeing interior blocks exist)."""
    rows = [Row(k=i, v=i % 97) for i in range(4096)]
    src = spark.createDataFrame(rows)
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["k"], n_buckets=1, block_rows=256)
    got = engine.agg_where(blocks, kinds, "k", 300, 3000, "v").collect()[0]
    exp = (src.filter("k BETWEEN 300 AND 3000")
              .agg(F.count("*").alias("n"), F.sum("v").alias("s"),
                   F.min("v").alias("lo"), F.max("v").alias("hi"))
              .collect()[0])
    assert (got["n_rows"], got["sum_v"], got["min_v"], got["max_v"]) == \
        (exp["n"], exp["s"], exp["lo"], exp["hi"])


# --- lookup_join -----------------------------------------------------------

def test_lookup_join_matches_isin(spark, events):
    src, blocks, kinds = events
    keys = src.filter("event_type = 'signup'").select("event_id")
    got = engine.lookup_join(blocks, kinds, "event_id", keys) \
        .orderBy("event_id").collect()
    exp = src.join(keys, "event_id", "left_semi") \
        .orderBy("event_id").collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in exp]


def test_lookup_join_projection(spark, events):
    src, blocks, kinds = events
    keys = spark.createDataFrame([Row(k=5), Row(k=50), Row(k=10**9)])
    got = engine.lookup_join(blocks, kinds, "event_id", keys,
                             columns=["user_id"]).collect()
    exp = src.filter(F.col("event_id").isin(5, 50)) \
        .select("user_id").collect()
    assert sorted(r["user_id"] for r in got) == \
        sorted(r["user_id"] for r in exp)
    assert got and got[0].asDict().keys() == {"user_id"}


def test_lookup_join_prunes_blocks(spark, monkeypatch):
    """The block index keeps only blocks whose range can contain a
    probe key: single sorted bucket, 16 disjoint blocks, two point keys
    in the same block -> 1 kept block reaches the scan."""
    src = spark.createDataFrame([Row(k=i, v=i) for i in range(4096)])
    blocks = engine.encode_df(src, ["k"], n_buckets=1,
                              block_rows=256).persist()
    assert blocks.count() == 16
    kept, scan = [], engine._scan

    def spy(blocks, schema_kinds, ix, keep, *a, **kw):
        kept.append(list(keep))
        return scan(blocks, schema_kinds, ix, keep, *a, **kw)

    monkeypatch.setattr(engine, "_scan", spy)
    keys = spark.createDataFrame([Row(k=1), Row(k=2)])
    got = engine.lookup_join(blocks, engine.column_kinds(src.schema), "k",
                             keys).collect()
    assert len(kept) == 1 and len(kept[0]) == 1
    assert sorted((r.k, r.v) for r in got) == [(1, 1), (2, 2)]
    blocks.unpersist()


def test_lookup_join_plan_has_no_nested_loop(spark):
    """A large probe list over 1,250 blocks: the exact answer, and the
    blocks table is neither joined nor shuffled — the block index
    prunes and the row evaluator matches, so the plan has no
    BroadcastNestedLoopJoin and no Exchange over the blocks scan."""
    src = spark.createDataFrame([Row(k=i, v=i) for i in range(20000)])
    # checkpointed: the plan shows the blocks as one scan, not the
    # encode's own exchange
    blocks = engine.encode_df(src, ["k"], n_buckets=2,
                              block_rows=16).localCheckpoint()
    assert blocks.count() >= 1250
    kinds = engine.column_kinds(src.schema)
    keys = spark.range(0, 100000, 3).withColumnRenamed("id", "k")
    out = engine.lookup_join(blocks, kinds, "k", keys)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange" not in plan and "Join" not in plan
    assert sorted(r.k for r in out.collect()) == list(range(0, 20000, 3))


def test_lookup_join_wide_and_null_bound_blocks_kept(spark):
    """Blocks spanning more coarse buckets than the explode cap (or
    carrying null bounds) skip the prune but stay in the candidate
    set — pruning is never a correctness filter."""
    import pyspark.sql.types as T
    # one block spans the whole domain (interleaved keys), the rest
    # are narrow: prune must keep the wide block for any probe
    wide = [Row(k=i, v=i) for i in (0, 10**12)]
    narrow = [Row(k=i, v=i) for i in range(1000, 1512)]
    src = spark.createDataFrame(wide + narrow)
    blocks = engine.encode_df(src, ["k"], n_buckets=1, block_rows=512)
    kinds = engine.column_kinds(src.schema)
    keys = spark.createDataFrame([Row(k=0)])
    got = engine.lookup_join(blocks, kinds, "k", keys).collect()
    assert [(r.k, r.v) for r in got] == [(0, 0)]
    # null bounds: blank out the bound columns entirely
    nb = blocks.withColumn("key_lo", F.lit(None).cast("long")) \
               .withColumn("key_hi", F.lit(None).cast("long"))
    got = engine.lookup_join(nb, kinds, "k", keys).collect()
    assert [(r.k, r.v) for r in got] == [(0, 0)]


def test_lookup_join_string_key(spark):
    rows = [Row(name=f"conv-{i:04d}", v=i) for i in range(1000)]
    src = spark.createDataFrame(rows)
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["name"], n_buckets=2, block_rows=128)
    keys = spark.createDataFrame([Row(k="conv-0007"), Row(k="conv-0999"),
                                  Row(k="missing")])
    got = engine.lookup_join(blocks, kinds, "name", keys).collect()
    assert sorted(r["v"] for r in got) == [7, 999]


def test_lookup_join_key_kinds_match_semi_join(spark, tmp_path):
    """ts, date, bool, i32 and string lead keys against a plain Spark
    semi-join: duplicate and null probe keys, a long probe past the
    i32 range, a projection, and an empty probe (an empty frame with
    the output schema). A probe of another type raises."""
    import datetime as dt

    src = spark.createDataFrame(
        [(i, f"s{i:03d}", dt.datetime(2024, 1, 1) + dt.timedelta(minutes=7 * i),
          dt.date(2020, 1, 1) + dt.timedelta(days=i), i % 3 == 0, i * 10)
         for i in range(300)],
        "i int, s string, ts timestamp, d date, b boolean, v long")
    kinds = engine.column_kinds(src.schema)
    t0, d0 = dt.datetime(2024, 1, 1), dt.date(2020, 1, 1)
    cases = [
        ("i", "k bigint", [5, 5, None, 299, 2 ** 40, -(2 ** 40), -7], None),
        ("s", "k string", ["s005", "s005", None, "s299", "zzz"], ["v"]),
        ("ts", "k timestamp", [t0, t0, None, t0 + dt.timedelta(minutes=70),
                               t0 + dt.timedelta(minutes=71)], ["i", "ts"]),
        ("d", "k date", [d0 + dt.timedelta(days=9), None,
                         d0 + dt.timedelta(days=9), d0 - dt.timedelta(days=1)],
         None),
        ("b", "k boolean", [True, None, True], ["v"]),
    ]
    for key, ddl, probe, cols in cases:
        path = str(tmp_path / key)
        engine.encode_df(src, [key], n_buckets=2, block_rows=32) \
            .write.mode("overwrite").parquet(path)
        blocks = spark.read.parquet(path)
        keys = spark.createDataFrame([(p,) for p in probe], ddl)
        exp = src.join(keys, src[key] == keys["k"], "left_semi")
        if cols is not None:
            exp = exp.select(*cols)
        for k in (keys, keys.filter("k IS NULL")):
            got = engine.lookup_join(blocks, kinds, key, k, columns=cols)
            assert got.schema == exp.schema, key
            want = sorted(map(tuple, exp.collect())) if k is keys else []
            assert sorted(map(tuple, got.collect())) == want, key
            assert want or k is not keys
    # a probe not of the key's type raises: Spark would compare 7.5 to
    # no int key, and a timestamp to a date key only at midnight
    for key, ddl, p in (("i", "k double", 7.5),
                        ("d", "k timestamp", t0 + dt.timedelta(hours=5)),
                        ("s", "k int", 5)):
        with pytest.raises(ValueError, match="takes no"):
            engine.lookup_join(spark.read.parquet(str(tmp_path / key)),
                               kinds, key, spark.createDataFrame([(p,)], ddl))


# --- topk_key --------------------------------------------------------------

def test_topk_desc_and_asc(spark, events):
    src, blocks, kinds = events
    for ascending in (False, True):
        got = [r["event_id"] for r in engine.topk_key(
            blocks, kinds, "event_id", 12, ascending=ascending).collect()]
        exp = [r["event_id"] for r in src.orderBy(
            F.col("event_id").asc() if ascending
            else F.col("event_id").desc()).limit(12).collect()]
        assert got == exp


def test_topk_overlap_safe_on_unsorted_blocks(spark, tmp_path):
    """Blocks written map-only from an UNSORTED file overlap freely;
    the prefix rule must still return the exact top-k (this is the
    layout where a naive cum-rows-by-key_hi rule loses rows)."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    ids = rng.permutation(5000).astype(np.int64)
    t = pa.table({"k": ids, "v": ids * 3})
    srcp = str(tmp_path / "unsorted.parquet")
    pq.write_table(t, srcp)
    blocks = engine.encode_parquet_maponly(spark, srcp, ["k"],
                                           block_rows=256)
    kinds = [("k", "i64"), ("v", "i64")]
    got = [r["k"] for r in engine.topk_key(blocks, kinds, "k", 10).collect()]
    assert got == list(range(4999, 4989, -1))
    got_a = [r["k"] for r in engine.topk_key(blocks, kinds, "k", 10,
                                             ascending=True).collect()]
    assert got_a == list(range(10))


def test_topk_k_larger_than_table(spark, events):
    src, blocks, kinds = events
    n = src.count()
    got = engine.topk_key(blocks, kinds, "event_id", n + 100).count()
    assert got == n


def test_topk_prunes_blocks(spark):
    """On a single-bucket sorted layout the candidate set must be the
    minimal tail: ~k rows of blocks, not the whole table."""
    rows = [Row(k=i, v=i) for i in range(4096)]
    src = spark.createDataFrame(rows)
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["k"], n_buckets=1,
                              block_rows=256).persist()
    try:
        from pyspark.sql import Window

        w = Window.partitionBy("bucket").orderBy(F.col("key_lo").desc())
        prev = F.coalesce(F.sum("n").over(
            w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
        # reproduce the operator's candidate filter and count survivors
        b2 = blocks.withColumn("_prev", prev)
        t = b2.filter("_prev < 10").agg(F.min("key_lo")).collect()[0][0]
        survivors = blocks.filter(F.col("key_hi") >= t).count()
        assert survivors == 1  # 4096/256 = 16 blocks, top-10 needs 1
        got = [r["k"] for r in engine.topk_key(blocks, kinds, "k",
                                               10).collect()]
        assert got == list(range(4095, 4085, -1))
    finally:
        blocks.unpersist()


def test_topk_plan_never_shuffles_payload(spark, events, jobs):
    """Regression pin for the plan shape. On a bare scan whose kept
    blocks fit one input split, topk_key decodes and sorts them on the
    driver: the answer is a LocalTableScan and no job runs. On any
    other frame the plan has no shuffle Exchange at all — the threshold
    is a literal taken from at most k metadata rows, and
    TakeOrderedAndProject finishes."""
    import contextlib
    import io

    src, blocks, kinds = events

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    for ascending in (False, True):
        top = lambda b: engine.topk_key(  # noqa: E731
            b, kinds, "event_id", 10, ascending=ascending)
        assert "LocalTableScan" in plan_of(top(blocks))
        assert jobs(lambda: top(blocks).collect()) == 0
        plan = plan_of(top(blocks.select("*")))
        assert "Exchange" not in plan
        assert "TakeOrderedAndProject" in plan


def test_topk_string_key(spark):
    rows = [Row(name=f"conv-{i:04d}", v=i) for i in range(1000)]
    src = spark.createDataFrame(rows)
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["name"], n_buckets=2, block_rows=128)
    got = [r["name"] for r in engine.topk_key(blocks, kinds, "name",
                                              5).collect()]
    assert got == [f"conv-{i:04d}" for i in range(999, 994, -1)]
    got_a = [r["name"] for r in engine.topk_key(
        blocks, kinds, "name", 5, ascending=True).collect()]
    assert got_a == [f"conv-{i:04d}" for i in range(5)]


def test_agg_where_string_predicate(spark):
    rows = [Row(name=f"u-{i % 7}", v=i) for i in range(700)]
    src = spark.createDataFrame(rows)
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["name"], n_buckets=2, block_rows=64)
    got = engine.agg_where(blocks, kinds, "name", "u-2", "u-4",
                           "v").collect()[0]
    exp = (src.filter("name BETWEEN 'u-2' AND 'u-4'")
              .agg(F.count("*").alias("n"), F.sum("v").alias("s"),
                   F.min("v").alias("lo"), F.max("v").alias("hi"))
              .collect()[0])
    assert (got["n_rows"], got["sum_v"], got["min_v"], got["max_v"]) == \
        (exp["n"], exp["s"], exp["lo"], exp["hi"])


# --- group_agg ---------------------------------------------------------------

def test_group_agg_single_col(spark, events):
    src, blocks, kinds = events
    got = {r["event_type"]: (r["n_rows"], r["sum_v"], r["min_v"],
                             r["max_v"])
           for r in engine.group_agg(blocks, kinds, "event_type",
                                     "user_id").collect()}
    exp = {r["event_type"]: (r["n"], r["s"], r["lo"], r["hi"])
           for r in src.groupBy("event_type")
           .agg(F.count("*").alias("n"), F.sum("user_id").alias("s"),
                F.min("user_id").alias("lo"),
                F.max("user_id").alias("hi")).collect()}
    assert got == exp


def test_group_agg_multi_col_count_only(spark, events):
    src, blocks, kinds = events
    got = {(r["event_type"], r["user_id"]): r["n_rows"]
           for r in engine.group_agg(blocks, kinds,
                                     ["event_type", "user_id"]).collect()}
    exp = {(r["event_type"], r["user_id"]): r["n"]
           for r in src.groupBy("event_type", "user_id")
           .agg(F.count("*").alias("n")).collect()}
    assert got == exp


def test_group_agg_rejects_float_agg(spark, events):
    src, blocks, kinds = events
    import pytest as _pytest
    with _pytest.raises(ValueError):
        engine.group_agg(blocks, kinds, "event_type", "value")


# --- topk_by (secondary column) ---------------------------------------------

def test_topk_by_secondary_column(spark, events):
    src, blocks, kinds = events
    for asc in (False, True):
        got = [r["event_id"] for r in engine.topk_by(
            blocks, kinds, "ts", 8, ascending=asc).collect()]
        exp = [r["event_id"] for r in src.orderBy(
            F.col("ts").asc() if asc else F.col("ts").desc())
            .limit(8).collect()]
        assert got == exp


def test_topk_by_prunes_on_correlated_column(spark):
    """ts correlates with the event_id block order, so the per-column
    stats prefix rule keeps only the tail blocks."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [Row(k=i, ts=base + datetime.timedelta(seconds=i))
            for i in range(4096)]
    src = spark.createDataFrame(rows, "k long, ts timestamp")
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["k"], n_buckets=1,
                              block_rows=256).persist()
    try:
        st = col_stats("ts")
        meta = blocks.select("bucket", "n", st["lo"].alias("_lo"))
        from pyspark.sql import Window
        w = Window.partitionBy("bucket") \
            .orderBy(F.col("_lo").desc_nulls_last())
        prev = F.coalesce(F.sum("n").over(
            w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
        t = meta.withColumn("_p", prev).filter("_p < 10") \
            .agg(F.min("_lo")).collect()[0][0]
        kept = blocks.filter(st["hi"] >= t).count()
        assert kept == 1  # 16 blocks, top-10 by ts needs the last one
        got = [r["k"] for r in engine.topk_by(blocks, kinds, "ts",
                                              10).collect()]
        assert got == list(range(4095, 4085, -1))
    finally:
        blocks.unpersist()


def test_group_agg_rejects_decimal_agg(spark):
    """dec(p,s) through the int64 kernel would interleave decimal128
    low/high words into garbage sums — must reject loudly."""
    import decimal

    from pyspark.sql import Row

    src = spark.createDataFrame(
        [Row(g="a", amount=decimal.Decimal("1.50"))],
        "g string, amount decimal(12,2)")
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["g"], n_buckets=1, block_rows=8)
    with pytest.raises(ValueError, match="dec"):
        engine.group_agg(blocks, kinds, "g", "amount")
