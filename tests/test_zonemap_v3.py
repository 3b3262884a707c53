"""Round-3 zone-map hardening: TRUE min/max block bounds (not
first/last row), NULL-safe pruning for keys without a pruning domain,
string-keyed lexicographic pruning, timestamp keys in the epoch-micros
domain, metadata-answered range aggregates, and the batched fetch
kernel. Mirrors the reference's type-generic metadata-pruned ``find``
(`/root/reference/oroch/integer_array.h:71-136`)."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from oroch_spark import engine
from oroch_spark.kernels import integers as ic


def _interior(blocks, lo, hi):
    """Blocks the block index answers from metadata: lead-key bounds
    inside [lo, hi]."""
    ix = engine._BlockIndex.of(blocks)
    pred = engine._KeyPred(lo=lo, hi=hi)
    return len(ix.keep(lambda i: engine._stats_inside(*ix.bounds(i, lo),
                                                      pred)))


def test_maponly_unsorted_bounds_are_true_minmax(spark, tmp_path):
    # the ADVICE-high scenario: an UNSORTED file encoded map-only must
    # store real min/max — first/last bounds ([500..300]) would make
    # the lookup of 42 silently skip the block
    d = tmp_path / "src"
    d.mkdir()
    vals = np.array([500, 100, 900, 300, 700, 42, 650, 11],
                    dtype=np.int64)
    pq.write_table(pa.table({"event_id": vals, "v": vals * 2}),
                   str(d / "f.parquet"))
    blocks = engine.encode_parquet_maponly(spark, str(d), ["event_id"],
                                           block_rows=4)
    bp = str(tmp_path / "blocks")
    blocks.write.parquet(bp)
    bdf = spark.read.parquet(bp)
    rows = {r.block_idx: r for r in
            bdf.select("block_idx", "key_lo", "key_hi").collect()}
    assert rows[0].key_lo == 100 and rows[0].key_hi == 900
    assert rows[1].key_lo == 11 and rows[1].key_hi == 700
    kinds = [("event_id", "i64"), ("v", "i64")]
    got = engine.lookup(bdf, kinds, "event_id", 42).collect()
    assert len(got) == 1 and got[0].v == 84


def test_null_in_lead_key_encodes_and_keeps_block(spark, tmp_path):
    # nullable key with nulls at the block edges: encode must not
    # crash (ADVICE-low int(None)) and pruning must keep the block
    d = tmp_path / "src"
    d.mkdir()
    vals = pa.array([None, 5, 7, None], type=pa.int64())
    pq.write_table(pa.table({"k": vals, "v": [1, 2, 3, 4]}),
                   str(d / "f.parquet"))
    blocks = engine.encode_parquet_maponly(spark, str(d), ["k"],
                                           block_rows=4)
    row = blocks.select("key_lo", "key_hi").first()
    assert row.key_lo == 5 and row.key_hi == 7  # null-skipping min/max
    kinds = [("k", "i64"), ("v", "i64")]
    got = engine.lookup(blocks, kinds, "k", 7).collect()
    assert len(got) == 1 and got[0].v == 3


def test_all_null_lead_key_bounds_null_and_unpruned(spark, tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([None, None], type=pa.int64()),
                  "v": [1, 2]}), str(d / "f.parquet"))
    blocks = engine.encode_parquet_maponly(spark, str(d), ["k"],
                                           block_rows=4)
    row = blocks.select("key_lo", "key_hi").first()
    assert row.key_lo is None and row.key_hi is None
    # NULL bounds mean "cannot prune": block survives, lookup of any
    # value returns empty (no key matches), never errors
    assert engine.prune_blocks(blocks, 123).count() == 1


def test_string_key_lookup_and_pruning(spark, tmp_path):
    src = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
           .withColumn("name", F.concat(F.lit("ev"),
                                        F.format_string("%06d",
                                                        "event_id"))))
    kinds = engine.column_kinds(src.schema)
    bp = str(tmp_path / "blocks")
    engine.encode_df(src, ["name"], n_buckets=4, block_rows=128) \
        .write.parquet(bp)
    blocks = spark.read.parquet(bp)
    row = blocks.select("key_slo", "key_shi", "key_lo").first()
    assert row.key_slo is not None and row.key_lo is None
    total = blocks.count()
    surv = engine.prune_blocks(blocks, "ev000777").count()
    assert surv < total  # lexicographic zone maps actually prune
    got = engine.lookup(blocks, kinds, "name", "ev000777").collect()
    assert len(got) == 1 and got[0].event_id == 777
    # string range scan
    rs = engine.range_scan(blocks, kinds, "name",
                           "ev000100", "ev000109")
    assert rs.count() == 10
    rc = engine.range_count(blocks, kinds, "name",
                            "ev000100", "ev000109").first().n_rows
    assert rc == 10


def test_ts_key_bounds_and_range(spark, tmp_path):
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    kinds = engine.column_kinds(src.schema)
    bp = str(tmp_path / "blocks")
    engine.encode_df(src, ["ts"], n_buckets=4, block_rows=256) \
        .write.parquet(bp)
    blocks = spark.read.parquet(bp)
    assert blocks.select("key_lo").first().key_lo is not None
    lo_us = int(src.agg(F.min("ts")).collect()[0][0]
                .timestamp() * 1e6)
    hi_us = lo_us + 3600_000_000
    exp = src.filter(
        (F.col("ts") >= F.timestamp_micros(F.lit(lo_us)))
        & (F.col("ts") <= F.timestamp_micros(F.lit(hi_us)))).count()
    assert exp > 0
    assert engine.range_scan(blocks, kinds, "ts",
                             lo_us, hi_us).count() == exp
    assert engine.range_count(blocks, kinds, "ts",
                              lo_us, hi_us).first().n_rows == exp
    # legacy blocks table (no bounds columns): degrades, same answer
    legacy = blocks.drop("key_lo", "key_hi", "key_slo", "key_shi")
    assert engine.range_count(legacy, kinds, "ts",
                              lo_us, hi_us).first().n_rows == exp


def test_range_agg_matches_source(spark):
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    kinds = engine.column_kinds(src.schema)
    # one bucket => blocks are contiguous key runs, so the wide range
    # provably contains interior blocks (the pushdown path is hit)
    blocks = engine.encode_df(src, ["event_id"], n_buckets=1,
                              block_rows=128).cache()
    got = engine.range_agg(blocks, kinds, "event_id", 100, 900,
                           "user_id").first()
    exp = src.filter((F.col("event_id") >= 100)
                     & (F.col("event_id") <= 900)).agg(
        F.count("*").alias("c"), F.sum("user_id").alias("s"),
        F.min("user_id").alias("lo"),
        F.max("user_id").alias("hi")).first()
    assert (got.n_rows, got.sum_v, got.min_v, got.max_v) \
        == (exp.c, exp.s, exp.lo, exp.hi)
    # the pushdown is real: interior blocks carry usable stats
    assert _interior(blocks, 100, 900) > 0
    blocks.unpersist()


def test_range_agg_key_equals_agg_col(spark):
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["event_id"], n_buckets=4,
                              block_rows=128)
    got = engine.range_agg(blocks, kinds, "event_id", 10, 20,
                           "event_id").first()
    assert (got.n_rows, got.sum_v, got.min_v, got.max_v) \
        == (11, sum(range(10, 21)), 10, 20)


def test_block_stats_skip_nullable_columns():
    arr = pa.array([1, None, 3], type=pa.int64())
    _, d, _, _ = engine._encode_column(arr, engine.K_I64, False)
    assert "s" not in d and "lo" not in d  # fill values never leak
    arr2 = pa.array([1, 2, 3], type=pa.int64())
    _, d2, _, _ = engine._encode_column(arr2, engine.K_I64, False)
    assert (d2["lo"], d2["hi"], d2["s"]) == (1, 3, 6)


@pytest.mark.parametrize("gen", [
    lambda rng: np.full(1000, 7, dtype=np.int64),          # naught
    lambda rng: rng.integers(-2**62, 2**62, 1000),         # normal
    lambda rng: rng.integers(-100, 100, 1000),             # bitpck-ish
    lambda rng: rng.integers(10**6, 10**6 + 5000, 1000),   # bitfor-ish
    lambda rng: np.sort(rng.integers(0, 10**9, 1000)),     # delta
    lambda rng: np.where(rng.random(1000) < 0.02,
                         rng.integers(0, 2**60, 1000),
                         rng.integers(0, 64, 1000)),       # bitpfr
])
def test_fetch_many_equals_decode(gen):
    rng = np.random.default_rng(17)
    vals = np.asarray(gen(rng), dtype=np.int64)
    blob = ic.encode_block(vals, width=8, try_delta=True)
    idxs = np.array([0, 1, 13, 500, 998, 999, 250, 250])
    got = ic.fetch_many(blob, idxs, len(vals), width=8)
    np.testing.assert_array_equal(got, vals[idxs])
    # scalar fetch agreement on the same codec
    assert ic.fetch(blob, 13, len(vals), width=8) == vals[13]


def test_fetch_many_64bit_width_edge():
    rng = np.random.default_rng(3)
    # values spanning the full signed-64 domain at every bit position
    vals = np.array([0, 1, -1, 2**62, -2**62, 2**63 - 1, -2**63,
                     *rng.integers(-2**63, 2**63 - 1, 100,
                                   dtype=np.int64)], dtype=np.int64)
    blob = ic.encode_block(vals, width=8)
    idxs = np.arange(len(vals))
    np.testing.assert_array_equal(
        ic.fetch_many(blob, idxs, len(vals), width=8), vals)


def test_scan_where_secondary_zone_map(spark):
    """Range predicate on a NON-key column answered via the per-column
    (lo, hi) descriptor stats: same rows as a plain source filter, and
    at least one block provably pruned on this data layout."""
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    kinds = engine.column_kinds(src.schema)
    # key = ts, predicate on event_id: within a bucket the blocks are
    # ts-ordered and event_id correlates with ts, so stats prune
    blocks = engine.encode_df(src, ["ts"], n_buckets=1,
                              block_rows=128).cache()
    got = engine.scan_where(blocks, kinds, "event_id", 100, 160)
    exp = src.filter((F.col("event_id") >= 100)
                     & (F.col("event_id") <= 160))
    assert sorted(r.event_id for r in got.collect()) \
        == sorted(r.event_id for r in exp.collect())
    st = engine._col_stats("event_id")
    keep = (st["lo"].isNull() | st["hi"].isNull()
            | ((st["lo"] <= 160) & (st["hi"] >= 100)))
    assert blocks.filter(keep).count() < blocks.count()
    # projection path
    got2 = engine.scan_where(blocks, kinds, "event_id", 100, 160,
                             columns=["value"])
    assert got2.columns == ["value"]
    assert got2.count() == exp.count()
    blocks.unpersist()


def test_scan_where_materialized_stats_pushdown(spark, tmp_path):
    """(lo, hi) persisted as extra stored columns; the stored table is
    still a bare scan, so the block index prunes it and the kept
    blocks' ids are a parquet PushedFilter; the results still match
    the source."""
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    kinds = engine.column_kinds(src.schema)
    st = engine._col_stats("event_id")
    blocks = engine.encode_df(src, ["ts"], n_buckets=1, block_rows=128) \
        .withColumn("event_id__lo", st["lo"]) \
        .withColumn("event_id__hi", st["hi"])
    bp = str(tmp_path / "blocks")
    blocks.write.parquet(bp)
    stored = spark.read.parquet(bp)
    got = engine.scan_where(stored, kinds, "event_id", 100, 160)
    exp = src.filter((F.col("event_id") >= 100)
                     & (F.col("event_id") <= 160))
    assert got.count() == exp.count() > 0
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "block_idx" in plan


def test_scan_where_string_column(spark):
    """Lexicographic per-column (slo, shi) stats prune string range
    predicates on a NON-key column, same rows as the source filter."""
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["ts"], n_buckets=1,
                              block_rows=128).cache()
    got = engine.scan_where(blocks, kinds, "event_type",
                            "click", "error")
    exp = src.filter((F.col("event_type") >= "click")
                     & (F.col("event_type") <= "error"))
    assert sorted(r.event_id for r in got.collect()) \
        == sorted(r.event_id for r in exp.collect())
    assert got.count() > 0
    # a range below every value prunes all blocks
    st = engine._col_stats("event_type")
    keep = (st["slo"].isNull() | st["shi"].isNull()
            | ((st["slo"] <= "aaa") & (st["shi"] >= "a")))
    assert blocks.filter(keep).count() == 0
    blocks.unpersist()


def test_lookup_where_string_stats_prune(spark):
    """String equality probes combine Bloom + lexicographic stats; text
    payload columns carry no stats and still answer correctly."""
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["ts"], n_buckets=2, block_rows=256)
    p = src.select("event_type").first()[0]
    got = engine.lookup_where(blocks, kinds, "event_type", p).count()
    assert got == src.filter(F.col("event_type") == p).count() > 0


def test_text_columns_skip_string_stats(spark):
    """Declared text columns must NOT store slo/shi (payload, not a
    pruning domain)."""
    import json as _json
    from oroch_spark import transcripts
    df = transcripts.generate(spark, n_conv=5, seed=1)
    blocks = engine.encode_df(df, ["conv_id", "turn_idx"], n_buckets=1,
                              text_cols=["text"])
    desc = _json.loads(blocks.select("desc").first()[0])
    by = {d["n"]: d for d in desc["cols"]}
    assert "slo" not in by["text"]
    assert "slo" in by["role"] and by["role"]["slo"] <= by["role"]["shi"]


def test_count_where_matches_source_and_uses_metadata(spark):
    """COUNT under a secondary-column predicate: correct vs a plain
    source filter, with interior blocks answered from metadata (the
    contained set is non-empty on a correlated column)."""
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["ts"], n_buckets=1,
                              block_rows=128).cache()
    got = engine.count_where(blocks, kinds, "event_id", 100, 400) \
        .collect()[0].n_rows
    exp = src.filter(F.col("event_id").between(100, 400)).count()
    assert got == exp > 0
    st = engine._col_stats("event_id")
    contained = blocks.filter(
        F.coalesce((st["lo"] >= 100) & (st["hi"] <= 400),
                   F.lit(False))).count()
    assert contained > 0  # metadata answered real blocks
    blocks.unpersist()


def test_count_where_string_and_empty(spark):
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["event_id"], n_buckets=2,
                              block_rows=128).cache()
    got = engine.count_where(blocks, kinds, "event_type",
                             "click", "error").collect()[0].n_rows
    exp = src.filter(F.col("event_type")
                     .between("click", "error")).count()
    assert got == exp > 0
    # empty predicate range -> 0, not an error
    assert engine.count_where(blocks, kinds, "user_id", -9, -1) \
        .collect()[0].n_rows == 0
    blocks.unpersist()


def test_null_count_from_metadata(spark):
    from pyspark.sql import Row, functions as F

    from oroch_spark import engine

    rows = [Row(k=i, v=(None if i % 3 == 0 else f"s{i}"))
            for i in range(900)]
    src = spark.createDataFrame(rows, "k long, v string")
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["k"], n_buckets=2, block_rows=64)
    got = engine.null_count(blocks, kinds, "v").collect()[0]["n_nulls"]
    assert got == 300
    # non-nullable column: zero, still metadata-only
    assert engine.null_count(blocks, kinds, "k") \
        .collect()[0]["n_nulls"] == 0


def test_null_count_schema_evolution_counts_absent_column(spark):
    from pyspark.sql import Row

    from oroch_spark import engine

    old = spark.createDataFrame([Row(k=i) for i in range(50)], "k long")
    new = spark.createDataFrame([Row(k=i, b=f"x{i}")
                                 for i in range(50, 80)],
                                "k long, b string")
    blocks = engine.encode_df(old, ["k"], n_buckets=1, block_rows=16) \
        .unionByName(engine.encode_df(new, ["k"], n_buckets=1,
                                      block_rows=16))
    kinds = [("k", "i64"), ("b", "str")]
    got = engine.null_count(blocks, kinds, "b").collect()[0]["n_nulls"]
    assert got == 50  # every pre-evolution row is null under the new schema


def test_table_stats_metadata_only(spark):
    from pyspark.sql import Row, functions as F

    from oroch_spark import engine

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["event_id"], n_buckets=4,
                              block_rows=512)
    st = {r["col"]: r for r in
          engine.table_stats(blocks, kinds).collect()}
    exp = src.agg(F.count("*").alias("n"),
                  F.min("event_id").alias("lo"),
                  F.max("event_id").alias("hi"),
                  F.min("event_type").alias("slo"),
                  F.max("event_type").alias("shi")).collect()[0]
    assert st["event_id"]["n_rows"] == exp["n"]
    assert (st["event_id"]["min_long"], st["event_id"]["max_long"]) == \
        (exp["lo"], exp["hi"])
    assert (st["event_type"]["min_str"], st["event_type"]["max_str"]) \
        == (exp["slo"], exp["shi"])
    # float column: honestly unknown, never silently scanned
    assert st["value"]["min_long"] is None
    assert st["value"]["min_str"] is None
    assert st["value"]["n_nulls"] == 0  # non-nullable is still exact


def test_table_stats_nullable_unknown_bounds(spark):
    from pyspark.sql import Row

    from oroch_spark import engine

    rows = [Row(k=i, v=(None if i % 4 == 0 else i * 2))
            for i in range(400)]
    src = spark.createDataFrame(rows, "k long, v long")
    blocks = engine.encode_df(src, ["k"], n_buckets=2, block_rows=64)
    st = {r["col"]: r for r in engine.table_stats(
        blocks, engine.column_kinds(src.schema)).collect()}
    assert st["v"]["n_nulls"] == 100
    assert st["v"]["min_long"] is None  # nullable blocks carry no lo/hi
    assert st["k"]["n_nulls"] == 0 and st["k"]["min_long"] == 0


# ---------------------------------------------------------------------------
# round 4: long string keys — bounds are capped, prune-safely widened
# ---------------------------------------------------------------------------

def test_ceil_floor_bound_properties():
    from oroch_spark.engine import (_ceil_str_bound, _floor_str_bound,
                                    _str_bounds_capped, _KEY_BOUND_MAX)
    import random
    rng = random.Random(7)
    pool = "abczé中\U0001F600퟿\U0010FFFF"
    for _ in range(200):
        s = "".join(rng.choice(pool)
                    for _ in range(rng.randint(0, 600)))
        lo, hi = _floor_str_bound(s), _ceil_str_bound(s)
        assert lo <= s
        assert len(lo) <= _KEY_BOUND_MAX
        if hi is not None:
            assert hi >= s, (s[:20], hi[:20])
            assert len(hi) <= _KEY_BOUND_MAX
            # UTF-8 byte order agrees (parquet stats compare bytes)
            assert lo.encode() <= s.encode() <= hi.encode()
    # the degenerate all-max prefix has no finite upper bound
    assert _ceil_str_bound("\U0010FFFF" * 300) is None
    assert _str_bounds_capped("a" * 300, "\U0010FFFF" * 300) == (None,
                                                                 None)
    # short bounds pass through untouched
    assert _str_bounds_capped("aa", "zz") == ("aa", "zz")


def test_long_string_keys_capped_and_lookupable(spark):
    """10 KB string keys: block zone-bound columns stay small, and
    lookups at/around the truncation boundary still find their rows
    (widened bounds are superset-safe, never false-negative)."""
    from pyspark.sql import Row
    from oroch_spark.engine import _KEY_BOUND_MAX

    base = "k" * (_KEY_BOUND_MAX - 1)      # shared 255-char prefix
    keys = [base + ("%05d" % i) * 2000 for i in range(40)]  # ~20 KB keys
    keys += ["aa", "zz" + "q" * 500]        # short + >cap mixed
    df = spark.createDataFrame([Row(k=k, v=i)
                                for i, k in enumerate(keys)])
    blocks = engine.encode_df(df, ["k"], n_buckets=2, block_rows=8)
    meta = blocks.select("key_slo", "key_shi", "key_min",
                         "key_max").collect()
    for r in meta:
        for c in ("key_slo", "key_shi", "key_min", "key_max"):
            assert r[c] is None or len(r[c]) <= _KEY_BOUND_MAX + 1
    kinds = engine.column_kinds(df.schema)
    for probe_i in (0, 17, 39, 40, 41):
        got = engine.lookup(blocks, kinds, "k", keys[probe_i]).collect()
        assert len(got) == 1 and got[0]["v"] == probe_i
    # a probe that shares the truncated prefix but matches nothing
    miss = base + "99999" * 2000 + "X"
    assert engine.lookup(blocks, kinds, "k", miss).count() == 0


def test_range_agg_timestamp_agg_col_micros_domain(spark):
    """Interior blocks contribute ts stats in epoch-MICROS; boundary
    blocks must convert through the same domain (a bare cast('long')
    yields SECONDS — off by 10^6 and silently mixed into the result)."""
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["event_id"], n_buckets=1,
                              block_rows=128).cache()
    got = engine.range_agg(blocks, kinds, "event_id", 100, 900,
                           "ts").first()
    # the raw parquet holds ntz; the table kind system folds ntz into
    # K_TS (session-tz), so the oracle mirrors that cast
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    exp = src.filter((F.col("event_id") >= 100)
                     & (F.col("event_id") <= 900)).agg(
        F.count("*").alias("c"), F.sum(us).alias("s"),
        F.min(us).alias("lo"), F.max(us).alias("hi")).first()
    assert (got.n_rows, got.sum_v, got.min_v, got.max_v) \
        == (exp.c, exp.s, exp.lo, exp.hi)
    # the interior path must be exercised, else the test proves nothing
    assert _interior(blocks, 100, 900) > 0
    blocks.unpersist()


def test_scan_where_decimal_unscaled_domain(spark):
    """dec(p,s) predicates: bounds arrive in the UNSCALED int64 domain
    (like micros for ts, days for date); both the stats prune and the
    exact row filter must resolve in that one domain."""
    import decimal

    from pyspark.sql import Row

    rows = [Row(k=i, price=decimal.Decimal(f"{10 + i}.25"))
            for i in range(50)]
    src = spark.createDataFrame(rows, "k long, price decimal(10,2)")
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["k"], n_buckets=1, block_rows=8)
    # price in [12.25, 19.25] -> unscaled [1225, 1925] -> k in 2..9
    got = engine.scan_where(blocks, kinds, "price", 1225, 1925,
                            columns=["k", "price"])
    ks = sorted(r["k"] for r in got.collect())
    assert ks == list(range(2, 10))
    assert all(decimal.Decimal("12.25") <= r["price"]
               <= decimal.Decimal("19.25") for r in got.collect())


def test_agg_where_rejects_float_agg_col(spark):
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["event_id"], n_buckets=1,
                              block_rows=128)
    with pytest.raises(ValueError, match="integer-domain"):
        engine.agg_where(blocks, kinds, "user_id", 2, 8, "value")
    with pytest.raises(ValueError, match="integer-domain"):
        engine.range_agg(blocks, kinds, "event_id", 0, 10, "value")
