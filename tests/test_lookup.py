"""Persisted-table point lookup: metadata pruning must skip most
blocks, the kernel must touch only the key column plus matched rows,
and results must equal a plain filter on the source."""
import numpy as np

from pyspark.sql import functions as F

from oroch_spark import engine


def _blocks(spark, tmp_path):
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    path = str(tmp_path / "blocks")
    engine.encode_df(src, ["event_id"], n_buckets=4, block_rows=512) \
        .write.mode("overwrite").parquet(path)
    return src, spark.read.parquet(path)


def test_lookup_matches_source_filter(spark, tmp_path):
    src, blocks = _blocks(spark, tmp_path)
    kinds = engine.column_kinds(src.schema)
    got = engine.lookup(blocks, kinds, "event_id", 777).collect()
    exp = src.filter(F.col("event_id") == 777).collect()
    assert len(got) == len(exp) == 1
    assert got[0].asDict() == exp[0].asDict()


def test_lookup_miss_returns_empty(spark, tmp_path):
    src, blocks = _blocks(spark, tmp_path)
    kinds = engine.column_kinds(src.schema)
    assert engine.lookup(blocks, kinds, "event_id", -1).count() == 0


def test_metadata_pruning_skips_most_blocks(spark):
    # sf0.01 events: 10k dense ids, 4 buckets x ~5 range-ordered blocks
    # per bucket; a point key can survive in at most one block per
    # bucket -- everything else is answered from metadata alone
    src = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    blocks = engine.encode_df(src, ["event_id"], n_buckets=4,
                              block_rows=512).cache()
    total = blocks.count()
    survivors = engine.prune_blocks(blocks, 777).count()
    assert total >= 16
    assert survivors <= 4 < total
    kinds = engine.column_kinds(src.schema)
    got = engine.lookup(blocks, kinds, "event_id", 777).collect()
    assert len(got) == 1 and got[0].event_id == 777
    blocks.unpersist()


def test_fetch_path_equals_decode_path():
    # _column_at_indices O(1)-fetch vs full-decode agreement
    import pyarrow as pa
    from oroch_spark.kernels import integers as ic

    rng = np.random.default_rng(9)
    vals = rng.integers(-10**9, 10**9, 1000)
    arr = pa.array(vals, type=pa.int64())
    blob, d, _, _ = engine._encode_column(arr, engine.K_I64, False)
    idxs = np.array([0, 5, 999, 123])
    fetched = engine._column_at_indices(blob, engine.K_I64, 1000,
                                        pa.int64(), False, idxs)
    assert fetched.to_pylist() == [int(vals[i]) for i in idxs]


def test_lookup_in_matches_source_filter(spark, tmp_path):
    src, blocks = _blocks(spark, tmp_path)
    kinds = engine.column_kinds(src.schema)
    probes = [3, 777, 4242, 9999, -5]  # incl. a guaranteed miss
    got = sorted(r.event_id for r in
                 engine.lookup_in(blocks, kinds, "event_id",
                                  probes).collect())
    exp = sorted(r.event_id for r in
                 src.filter(F.col("event_id").isin(probes)).collect())
    assert got == exp and len(got) >= 1
    # full-row equality on one probe
    one = engine.lookup_in(blocks, kinds, "event_id", [777]).collect()
    assert one[0].asDict() == \
        src.filter(F.col("event_id") == 777).collect()[0].asDict()


def test_lookup_in_prunes_and_shares_block_decodes(spark):
    src = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    blocks = engine.encode_df(src, ["event_id"], n_buckets=4,
                              block_rows=512).cache()
    total = blocks.count()
    # two close keys land in the same blocks: the IN-prune survivor set
    # must not double-count, and the far key adds its own block(s)
    close, far = [100, 101], [9000]
    s_close = engine.prune_blocks_in(blocks, close).count()
    s_all = engine.prune_blocks_in(blocks, close + far).count()
    assert s_close <= 4
    assert s_all <= s_close + 4 < total
    kinds = engine.column_kinds(src.schema)
    got = engine.lookup_in(blocks, kinds, "event_id",
                           close + far).count()
    assert got == src.filter(F.col("event_id")
                             .isin(close + far)).count() == 3
    blocks.unpersist()


def test_lookup_in_string_key(spark, tmp_path):
    from oroch_spark import transcripts
    df = transcripts.generate(spark, 12, seed=3)
    blocks = engine.encode_df(df, ["conv_id", "turn_idx"], n_buckets=2,
                              block_rows=256, text_cols=["text"])
    kinds = engine.column_kinds(df.schema)
    probes = ["conv-00000002", "conv-00000007", "conv-zzz"]
    got = engine.lookup_in(blocks, kinds, "conv_id", probes)
    exp = df.filter(F.col("conv_id").isin(probes))
    assert got.count() == exp.count() > 0
    assert (sorted(r.turn_idx for r in got.collect())
            == sorted(r.turn_idx for r in exp.collect()))


def test_lookup_in_long_list_coarse_prune(spark, tmp_path):
    src, blocks = _blocks(spark, tmp_path)
    kinds = engine.column_kinds(src.schema)
    probes = list(range(0, 130))  # > 64 -> coarse [min, max] envelope
    got = engine.lookup_in(blocks, kinds, "event_id", probes).count()
    exp = src.filter(F.col("event_id").isin(probes)).count()
    assert got == exp > 0


def test_lookup_nullable_huge_int64_keys_exact(spark):
    """A NULLABLE int64 key decodes arrow-side for equality: a numpy
    float64 round-trip would collapse 2^60 and 2^60+1 into the same
    value and match both (53-bit mantissa)."""
    from pyspark.sql import Row

    a, b = 2 ** 60, 2 ** 60 + 1
    rows = [Row(k=a, v="a"), Row(k=b, v="b"), Row(k=None, v="n"),
            Row(k=7, v="c")]
    src = spark.createDataFrame(rows, "k long, v string")
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["k"], n_buckets=1, block_rows=8)
    got = engine.lookup(blocks, kinds, "k", a).collect()
    assert len(got) == 1 and got[0]["v"] == "a"
    got = engine.lookup(blocks, kinds, "k", b).collect()
    assert len(got) == 1 and got[0]["v"] == "b"
    got = engine.lookup_in(blocks, kinds, "k", [a, b]).collect()
    assert sorted(r["v"] for r in got) == ["a", "b"]


def test_large_in_lists_match_brute_force(spark, tmp_path):
    """20,000-value IN lists through ``lookup_in`` (on each lead key)
    and ``format("oroch")`` ``isin`` and NOT IN (on every column of one
    table) keep exactly the rows a Python brute force keeps under
    Spark's semantics (a null row never passes; NaN IN (.., NaN) does):
    non-nullable string columns in dictionary and plain blocks, a
    nullable string column, an int column and a float column with NaN
    and nulls."""
    import re

    from oroch_spark.kernels import strings as sc
    from oroch_spark.sources import datasource as ds

    src = spark.range(4000).selectExpr(
        "id AS k", "concat('c', id % 40) AS sd",
        "concat('u', (id * 7919) % 100003) AS sp",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('n', id % 300) END AS sn",
        "CASE WHEN id % 11 = 0 THEN double('NaN') WHEN id % 13 = 0 "
        "THEN NULL ELSE id / 4.0 END AS f")
    kinds = engine.column_kinds(src.schema)
    probes = {"k": list(range(-10000, 30000, 2)),
              "sd": [f"c{j}" for j in range(1, 40000, 2)],
              "sp": [f"u{j}" for j in range(0, 200000, 10)],
              "sn": [f"n{j}" for j in range(0, 40000, 2)],
              "f": list(range(0, 20000))}
    assert all(len(v) == 20000 for v in probes.values())
    rows = src.toArrow()
    codecs = {c: sc.encode_str_block(rows[c].combine_chunks()[:256])[1]
              .codec for c in ("sd", "sp")}
    assert codecs == {"sd": sc.DICT_STR, "sp": sc.PLAIN_STR}
    cols = rows.to_pydict()

    def brute(c, vals, negate=False):
        s, nan = set(vals), any(v != v for v in vals)
        return sorted(k for k, x in zip(cols["k"], cols[c]) if x is not None
                      and (x in s or nan and x != x) != negate)

    def sql_in(c, vals):
        lits = ", ".join(f"'{v}'" if isinstance(v, str)
                         else "double('NaN')" if v != v else str(v)
                         for v in vals)
        return f"{c} IN ({lits})"

    def ks(df):
        return sorted(r.k for r in df.select("k").collect())

    for c, vals in probes.items():
        exp = brute(c, vals)
        assert 0 < len(exp) < 4000, c
        path = str(tmp_path / f"lead_{c}")
        engine.encode_df(src, [c], n_buckets=2, block_rows=256) \
            .write.mode("overwrite").parquet(path)
        got = engine.lookup_in(spark.read.parquet(path), kinds, c, vals,
                               columns=["k"])
        assert ks(got) == exp, c

    ds.register(spark)
    path = str(tmp_path / "oroch")
    src.coalesce(1).write.format("oroch").mode("overwrite") \
        .option("key_cols", "k").option("block_rows", "256").save(path)
    probes["f"] = [v / 4.0 for v in range(19999)] + [float("nan")]
    for c, vals in probes.items():
        for negate in (False, True):
            cond = sql_in(c, vals)
            got = spark.read.format("oroch").load(path) \
                .filter(f"NOT ({cond})" if negate else cond)
            plan = got._jdf.queryExecution().executedPlan().toString()
            # the reader runs every IN but the float one (Spark's)
            assert bool(re.search(r"\bFilter\b", plan)) == (c == "f"), c
            assert ks(got) == brute(c, vals, negate), (c, negate)
