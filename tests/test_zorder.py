"""Z-order clustering: Morton key correctness, round-trip equality, and
the point of it all — secondary-column pruning that a single-key layout
cannot give (`engine.zorder_key` / `engine.encode_df_zorder`)."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from oroch_spark import engine
from desc_stats import col_stats


def _morton_scalar(vals: list[int], bits: int) -> int:
    """Bit-by-bit scalar Morton (independent oracle for the magic
    numbers): bit b of column i lands at position b*len(vals)+i."""
    z = 0
    for i, v in enumerate(vals):
        v &= (1 << bits) - 1
        for b in range(bits):
            z |= ((v >> b) & 1) << (b * len(vals) + i)
    return z


@pytest.mark.parametrize("k,bits", [(2, 31), (3, 21)])
def test_morton_np_matches_scalar_oracle(k, bits):
    rng = np.random.default_rng(11)
    cols = [rng.integers(0, 1 << bits, 200, dtype=np.uint64)
            for _ in range(k)]
    got = engine.morton_np(cols, bits)
    exp = np.array([_morton_scalar([int(c[j]) for c in cols], bits)
                    for j in range(200)], dtype=np.uint64)
    np.testing.assert_array_equal(got, exp)
    assert int(got.max()) < (1 << 63)  # sign bit clear: sorts as long


def test_zorder_key_expr_matches_numpy(spark):
    """The JVM expression and the numpy reference produce the same key
    (after the same min-normalization), including negative inputs."""
    rng = np.random.default_rng(5)
    a = rng.integers(-1000, 1000, 300).tolist()
    b = rng.integers(0, 5000, 300).tolist()
    df = spark.createDataFrame(list(zip(a, b)), "a long, b long")
    z = engine.zorder_key(df, ["a", "b"])
    got = np.array([r.z for r in
                    df.select(z.alias("z"), "a", "b").collect()],
                   dtype=np.uint64)
    rows = df.select("a", "b").collect()

    def norm(vals, lo, hi):
        u = np.array(vals, dtype=np.int64) - lo
        shift = int(hi - lo).bit_length() - 31
        u = (u >> shift) if shift > 0 else (u << -shift)
        return u.view(np.uint64)

    ua = norm([r.a for r in rows], min(a), max(a))
    ub = norm([r.b for r in rows], min(b), max(b))
    exp = engine.morton_np([ua, ub], 31)
    np.testing.assert_array_equal(got, exp)


def test_zorder_roundtrip_and_secondary_pruning(spark):
    """Z-ordered blocks decode to exactly the source rows, and range
    predicates on BOTH z columns prune blocks, where the key-sorted
    layout prunes only its lead key. sf0.001 events, (user_id, value)
    are mutually uncorrelated — the adversarial case for one key."""
    src = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
           .withColumn("v_int", (F.col("value") * 100).cast("long"))
           .drop("props"))
    kinds = engine.column_kinds(src.schema)
    zb = engine.encode_df_zorder(src, ["user_id", "v_int"],
                                 n_buckets=4, block_rows=16).cache()
    kb = engine.encode_df(src, ["event_id"], n_buckets=4,
                          block_rows=16).cache()
    try:
        # bit-identical round trip (multiset equality via checksum)
        assert engine.checksum_df(engine.decode_df(zb, kinds)) \
            == engine.checksum_df(src)

        # pruning: fraction of blocks kept for a 10%-of-domain range
        def kept(blocks, col, lo, hi):
            st = col_stats(col)
            keep = (st["lo"].isNull() | st["hi"].isNull()
                    | ((st["lo"] <= hi) & (st["hi"] >= lo)))
            return blocks.filter(keep).count(), blocks.count()

        # predicate = lowest ~15% of ROWS per column (quantile, not
        # range fraction — `value` is right-skewed)
        u_hi = int(src.approxQuantile("user_id", [0.15], 0.0)[0])
        v_hi = int(src.approxQuantile("v_int", [0.15], 0.0)[0])
        for col, hi in (("user_id", u_hi), ("v_int", v_hi)):
            zk, zn = kept(zb, col, 0, hi)
            kk, kn = kept(kb, col, 0, hi)
            assert zk <= zn // 2, (col, zk, zn)  # z layout prunes
            # the single-key layout can only prune by luck on 16-row
            # blocks; z must beat it decisively on both columns
            assert zk * 2 <= kk, (col, zk, kk)

        # results still exact on both layouts
        got = engine.scan_where(zb, kinds, "user_id", 0, u_hi)
        exp = src.filter(F.col("user_id") <= u_hi)
        assert sorted(r.event_id for r in got.collect()) \
            == sorted(r.event_id for r in exp.collect())
        cnt = engine.count_where(zb, kinds, "v_int", 0, v_hi)
        assert cnt.collect()[0].n_rows \
            == src.filter(F.col("v_int") <= v_hi).count()
    finally:
        zb.unpersist()
        kb.unpersist()


def test_str_prefix_long_order_preserving(spark):
    """The JVM 7-byte-prefix expression equals the Python mirror and
    preserves lexicographic order (ties only on shared prefixes)."""
    vals = ["", "a", "ab", "conv-00001000", "conv-00001001",
            "conv-9", "zzzzzzzzz", "Ω-unicode", "a" * 40]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    expr = engine._zorder_domain_expr(df, "s")
    got = {r.s: r.p for r in df.select("s", expr.alias("p")).collect()}
    for v in vals:
        assert got[v] == engine.str_prefix_long(v), v
        assert 0 <= got[v] < (1 << 56)
    for a in vals:
        for b in vals:
            if a < b:
                assert engine.str_prefix_long(a) \
                    <= engine.str_prefix_long(b), (a, b)


def test_zorder_string_column_roundtrip_and_pruning(spark):
    """Z-order over (conv_id-style string, int): round-trip exact, and
    BOTH the string column (lexicographic slo/shi stats) and the int
    column prune after clustering."""
    rng = np.random.default_rng(3)
    n = 4096
    rows = [(f"conv-{int(c):08d}", int(u), i) for i, (c, u) in
            enumerate(zip(rng.integers(0, 400, n),
                          rng.integers(0, 100000, n)))]
    src = spark.createDataFrame(rows, "conv_id string, uid long, i long")
    kinds = engine.column_kinds(src.schema)
    zb = engine.encode_df_zorder(src, ["conv_id", "uid"],
                                 n_buckets=4, block_rows=64).cache()
    try:
        assert engine.checksum_df(engine.decode_df(zb, kinds)) \
            == engine.checksum_df(src)
        total = zb.count()
        st = col_stats("conv_id")
        keep_s = zb.filter(
            st["slo"].isNull() | st["shi"].isNull()
            | ((st["slo"] <= "conv-00000039")
               & (st["shi"] >= "conv-00000000"))).count()
        assert keep_s <= total // 2, (keep_s, total)
        got = engine.scan_where(zb, kinds, "conv_id",
                                "conv-00000000", "conv-00000039")
        exp = src.filter(F.col("conv_id") <= "conv-00000039")
        assert sorted(r.i for r in got.collect()) \
            == sorted(r.i for r in exp.collect())
    finally:
        zb.unpersist()


def test_scan_where_multi_and_count_where_multi(spark):
    """AND-of-predicates over a z-ordered layout: exact vs plain Spark
    filter, compound pruning strictly better than either single
    predicate, and the metadata-contained count path agrees."""
    src = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
           .withColumn("v_int", (F.col("value") * 100).cast("long"))
           .drop("props"))
    kinds = engine.column_kinds(src.schema)
    zb = engine.encode_df_zorder(src, ["user_id", "v_int"],
                                 n_buckets=4, block_rows=16).cache()
    try:
        u_hi = int(src.approxQuantile("user_id", [0.3], 0.0)[0])
        v_hi = int(src.approxQuantile("v_int", [0.3], 0.0)[0])
        preds = [("user_id", 0, u_hi), ("v_int", 0, v_hi)]
        exp = src.filter((F.col("user_id") <= u_hi)
                         & (F.col("v_int") <= v_hi))
        got = engine.scan_where_multi(zb, kinds, preds)
        assert sorted(r.event_id for r in got.collect()) \
            == sorted(r.event_id for r in exp.collect())
        # column projection path (pred cols not in output)
        got2 = engine.scan_where_multi(zb, kinds, preds,
                                       columns=["event_id"])
        assert got2.columns == ["event_id"]
        assert got2.count() == exp.count()
        # compound keep <= each single keep
        k_both = engine._prune_where(zb, preds).count()
        for p in preds:
            assert k_both <= engine._prune_where(zb, [p]).count()
        cnt = engine.count_where_multi(zb, kinds, preds)
        assert cnt.collect()[0].n_rows == exp.count()
        assert cnt.columns == ["n_rows"]
    finally:
        zb.unpersist()


def test_zorder_empty_and_three_cols(spark):
    src = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
           .limit(200).drop("props"))
    kinds = engine.column_kinds(src.schema)
    zb = engine.encode_df_zorder(src, ["user_id", "event_id", "value"],
                                 n_buckets=2, block_rows=32)
    assert engine.checksum_df(engine.decode_df(zb, kinds)) \
        == engine.checksum_df(src)
    empty = src.filter(F.lit(False))
    assert engine.encode_df_zorder(empty, ["user_id", "event_id"],
                                   n_buckets=2).count() == 0
    with pytest.raises(ValueError):
        engine.zorder_key(src, ["user_id"])


def test_zorder_sketch_cols_passthrough(spark):
    """encode_df_zorder accepts sketch_cols like encode_df — a
    Z-ordered layout must still support the approx sketches."""
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df_zorder(
        src, ["user_id", "value"], key_cols=["event_id"],
        n_buckets=2, block_rows=256, sketch_cols=["user_id"])
    est = engine.approx_distinct(blocks, "user_id").first()["approx_ndv"]
    exact = src.select("user_id").distinct().count()
    assert abs(est - exact) / exact <= 0.1
