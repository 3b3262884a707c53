"""Per-block HLL + quantile sketches: approx analytics at metadata speed."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from oroch_spark import engine


@pytest.fixture(scope="module")
def blocks(spark):
    rng = np.random.RandomState(11)
    n = 40000
    rows = [(int(i),                                   # event_id (key)
             int(rng.randint(0, 5000)),                # user_id
             int(rng.zipf(1.5) % 100000),              # value (skewed)
             str(rng.randint(0, 777)))                 # tag (string)
            for i in range(n)]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, value bigint, tag string")
    blocks = engine.encode_df(
        df, ["event_id"], n_buckets=4, block_rows=2048,
        sketch_cols=["user_id", "value", "tag"]).cache()
    blocks.count()
    return df.cache(), blocks


class TestApproxDistinct:
    def test_within_hll_error(self, blocks):
        df, blk = blocks
        for col in ["user_id", "value", "tag"]:
            exact = df.select(col).distinct().count()
            est = engine.approx_distinct(blk, col).collect()[0].approx_ndv
            assert abs(est - exact) / exact < 0.06, (col, est, exact)

    def test_metadata_only(self, blocks, tmp_path_factory):
        _, blk = blocks
        # against a persisted table that is not a bare scan, the block
        # index's collect loader reads no payload column — payload
        # bytes never leave the file — and the answer is a local
        # relation, with no scan
        d = str(tmp_path_factory.mktemp("sketch_blocks"))
        blk.write.mode("overwrite").parquet(d)
        persisted = blk.sparkSession.read.parquet(d)
        plan = engine._index_frame(persisted.select("*")) \
            ._jdf.queryExecution().executedPlan().toString()
        scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert scan and all("payload" not in ln for ln in scan)
        for frame in (persisted, persisted.select("*")):
            plan = engine.approx_distinct(frame, "user_id") \
                ._jdf.queryExecution().executedPlan().toString()
            assert "LocalTableScan" in plan and "ReadSchema" not in plan

    def test_missing_sketch_raises(self, blocks, spark):
        df, _ = blocks
        nosketch = engine.encode_df(df, ["event_id"], n_buckets=2)
        with pytest.raises(Exception, match="no HLL sketch"):
            engine.approx_distinct(nosketch, "user_id").collect()

    def test_union_of_tables_merges(self, blocks, spark):
        # sketches merge across independently encoded tables
        df, blk = blocks
        half1 = engine.encode_df(df.filter("event_id < 20000"),
                                 ["event_id"], n_buckets=2,
                                 sketch_cols=["user_id"])
        half2 = engine.encode_df(df.filter("event_id >= 20000"),
                                 ["event_id"], n_buckets=2,
                                 sketch_cols=["user_id"])
        est = engine.approx_distinct(half1.unionByName(half2),
                                     "user_id").collect()[0].approx_ndv
        exact = df.select("user_id").distinct().count()
        assert abs(est - exact) / exact < 0.06

    def test_float_column_hll(self, spark):
        df = spark.createDataFrame(
            [(i, float(i % 421) * 1.5) for i in range(4000)],
            "event_id bigint, value double")
        blk = engine.encode_df(df, ["event_id"], n_buckets=2,
                               block_rows=512, sketch_cols=["value"])
        est = engine.approx_distinct(blk, "value") \
            .collect()[0].approx_ndv
        assert abs(est - 421) / 421 < 0.06

    def test_small_cardinality_linear_counting(self, spark):
        df = spark.createDataFrame(
            [(i, i % 37) for i in range(5000)],
            "event_id bigint, user_id bigint")
        blk = engine.encode_df(df, ["event_id"], n_buckets=2,
                               block_rows=512, sketch_cols=["user_id"])
        est = engine.approx_distinct(blk, "user_id") \
            .collect()[0].approx_ndv
        assert est == 37      # linear-counting regime is near-exact


class TestApproxQuantile:
    def test_rank_error_bounded(self, blocks):
        df, blk = blocks
        vals = np.sort(np.array(
            [r.value for r in df.select("value").collect()]))
        n = len(vals)
        qs = [0.0, 0.1, 0.5, 0.9, 0.99, 1.0]
        got = {r.q: r.value for r in
               engine.approx_quantile(blk, "value", qs).collect()}
        for q in qs:
            v = got[q]
            # rank of returned value vs requested rank, within ~3% of N
            rank_lo = np.searchsorted(vals, v, side="left")
            rank_hi = np.searchsorted(vals, v, side="right")
            target = q * n
            # a duplicated value covers the whole rank span [lo, hi]
            if rank_lo <= target <= rank_hi:
                err = 0.0
            else:
                err = min(abs(rank_lo - target), abs(rank_hi - target))
            assert err <= 0.035 * n, (q, v, rank_lo, rank_hi, target)

    def test_extremes_exact(self, blocks):
        df, blk = blocks
        mn = df.agg(F.min("value")).collect()[0][0]
        mx = df.agg(F.max("value")).collect()[0][0]
        got = {r.q: r.value for r in
               engine.approx_quantile(blk, "value", [0.0, 1.0]).collect()}
        assert got[0.0] == mn
        assert got[1.0] == mx

    def test_missing_sketch_raises(self, blocks):
        df, _ = blocks
        nosketch = engine.encode_df(df, ["event_id"], n_buckets=2)
        with pytest.raises(Exception, match="no quantile sketch"):
            engine.approx_quantile(nosketch, "value", [0.5]).collect()

    def test_float_column_quantiles(self, spark):
        rng = np.random.RandomState(13)
        xs = rng.lognormal(0.0, 1.0, size=20000)
        df = spark.createDataFrame(
            [(int(i), float(x)) for i, x in enumerate(xs)],
            "event_id bigint, score double")
        blk = engine.encode_df(df, ["event_id"], n_buckets=4,
                               block_rows=1024, sketch_cols=["score"])
        got = {r.q: r.value for r in engine.approx_quantile(
            blk, "score", [0.1, 0.5, 0.9], kind="float").collect()}
        s = np.sort(xs)
        n = len(s)
        for q in [0.1, 0.5, 0.9]:
            rank = np.searchsorted(s, got[q])
            assert abs(rank - q * n) <= 0.035 * n, (q, got[q])
        assert isinstance(got[0.5], float)

    def test_bad_q_rejected(self, blocks):
        _, blk = blocks
        with pytest.raises(ValueError):
            engine.approx_quantile(blk, "value", [1.5])

    def test_roundtrip_unaffected_by_sketches(self, blocks):
        df, blk = blocks
        kinds = engine.column_kinds(df.schema)
        dec = engine.decode_df(blk, kinds)
        assert dec.count() == df.count()
        a = dec.orderBy("event_id").toPandas()
        b = df.orderBy("event_id").toPandas()
        assert a.equals(b)


class TestApproxTopk:
    def test_small_cardinality_exact_with_zero_residual(self, blocks):
        df, blk = blocks
        exact = {r.tag: r["count"] for r in
                 df.groupBy("tag").count().collect()}
        got = engine.approx_topk(blk, "tag", k=10).collect()
        # 777 distinct tags > 64/block, so residuals exist; bounds
        # must bracket the truth and ranking must be plausible
        for r in got:
            assert r.count_lo <= exact[r.value] <= r.count_hi

    def test_heavy_hitters_found_on_skew(self, blocks, spark):
        rng = np.random.RandomState(5)
        vals = rng.zipf(1.3, 30000) % 10000        # strong skew
        df = spark.createDataFrame(
            [(int(i), int(v)) for i, v in enumerate(vals)],
            "event_id bigint, v bigint")
        blk = engine.encode_df(df, ["event_id"], n_buckets=4,
                               block_rows=1024, sketch_cols=["v"])
        got = engine.approx_topk(blk, "v", k=5, kind="int").collect()
        exact = df.groupBy("v").count() \
            .orderBy(F.desc("count"), "v").limit(5).collect()
        exact_counts = {r.v: r["count"] for r in
                        df.groupBy("v").count().collect()}
        top_true = [r.v for r in exact]
        top_est = [r.value for r in got]
        # the true heavy hitters are recovered (order may wobble in
        # the tail); bounds bracket every reported item's true count
        assert set(top_est[:3]) == set(top_true[:3])
        for r in got:
            assert r.count_lo <= exact_counts[r.value] <= r.count_hi

    def test_exact_when_block_cardinality_fits(self, spark):
        df = spark.createDataFrame(
            [(i, f"t{i % 20}") for i in range(8000)],
            "event_id bigint, tag string")
        blk = engine.encode_df(df, ["event_id"], n_buckets=2,
                               block_rows=1024, sketch_cols=["tag"])
        got = engine.approx_topk(blk, "tag", k=20).collect()
        # 20 distinct <= 64 per block: rb == 0 everywhere -> exact
        for r in got:
            assert r.count_lo == r.count_hi == 400

    def test_missing_raises_and_k_cap(self, blocks):
        df, blk = blocks
        nosketch = engine.encode_df(df, ["event_id"], n_buckets=2)
        with pytest.raises(Exception, match="heavy-hitter"):
            engine.approx_topk(nosketch, "tag").collect()
        with pytest.raises(ValueError):
            engine.approx_topk(blk, "tag", k=1000)


@pytest.mark.parametrize("build, match", [
    (lambda b: engine.approx_distinct(b, "user_id"), "no HLL sketch"),
    (lambda b: engine.approx_quantile(b, "value", [0.5]),
     "no quantile sketch"),
    (lambda b: engine.approx_topk(b, "tag"), "no heavy-hitter summary")])
def test_missing_sketch_raises_at_the_call(blocks, build, match):
    """The sketches fold on the driver: a block without one raises when
    the query is built, before any result is collected."""
    df, _ = blocks
    nosketch = engine.encode_df(df, ["event_id"], n_buckets=2)
    with pytest.raises(ValueError, match=match):
        build(nosketch)


def test_sketch_kernel_determinism():
    import pyarrow as pa
    arr = pa.array(list(range(1000)) * 2, type=pa.int64())
    assert engine._hll_build(arr, engine.K_I64) == \
        engine._hll_build(arr, engine.K_I64)
    assert engine._qsketch_build(arr) == engine._qsketch_build(arr)
    # duplicate values do not move the HLL estimate
    regs1 = np.frombuffer(engine._hll_build(arr, engine.K_I64),
                          dtype=np.uint8)
    regs2 = np.frombuffer(
        engine._hll_build(pa.array(list(range(1000)), type=pa.int64()),
                          engine.K_I64), dtype=np.uint8)
    assert np.array_equal(regs1, regs2)
