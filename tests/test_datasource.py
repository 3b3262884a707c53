"""The "oroch" Python DataSource: write path (encode + commit
protocol), read path (decode), filter pushdown (row-group + block
pruning, exact enforcement), projection option, overwrite semantics."""
import datetime
import glob
import json
import os
import re
from decimal import Decimal

import pytest
from pyspark.sql import Row, functions as F

from oroch_spark import engine
from oroch_spark.sources import datasource as ds

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def dsspark(spark):
    ds.register(spark)
    return spark


@pytest.fixture(scope="module")
def events_table(dsspark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dsrw") / "events")
    src = dsspark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    (src.repartition(4, "event_id").sortWithinPartitions("event_id")
        .write.format("oroch").mode("overwrite")
        .option("key_cols", "event_id").option("bloom_cols", "props")
        .save(path))
    return path, src


def test_write_read_roundtrip(dsspark, events_table):
    path, src = events_table
    assert os.path.exists(os.path.join(path, ds.SIDECAR))
    with open(os.path.join(path, "_SUCCESS")) as f:
        stats = json.load(f)
    assert stats["blocks"] >= 4 and stats["bytes_out"] > 0
    back = dsspark.read.format("oroch").load(path)
    a = src.orderBy("event_id").toPandas()
    b = back.orderBy("event_id").toPandas()[a.columns.tolist()]
    assert a.equals(b)


def test_filter_pushdown_matches_plain_filter(dsspark, events_table):
    path, src = events_table
    back = dsspark.read.format("oroch").load(path)
    cond = (F.col("event_id") >= 100) & (F.col("event_id") < 200)
    a = src.filter(cond).orderBy("event_id").toPandas()
    b = back.filter(cond).orderBy("event_id").toPandas()[a.columns.tolist()]
    assert len(a) > 0 and a.equals(b)
    # equality + IN
    a = src.filter(F.col("event_id").isin(7, 8, 9)).orderBy("event_id") \
        .toPandas()
    b = back.filter(F.col("event_id").isin(7, 8, 9)).orderBy("event_id") \
        .toPandas()[a.columns.tolist()]
    assert a.equals(b)


def test_pushdown_removes_filter_from_plan(dsspark, events_table):
    path, _ = events_table
    back = dsspark.read.format("oroch").load(path)
    plan = back.filter(F.col("event_id") == 42) \
        ._jdf.queryExecution().executedPlan().toString()
    # the accepted equality must NOT be re-applied by Spark; only the
    # residual isnotnull survives
    assert "BatchScan oroch" in plan
    assert "= 42" not in plan


def test_reader_prunes_partitions(events_table):
    """Unit-level: pushFilters + partitions() must plan fewer
    row-groups for a selective predicate than for a full scan."""
    path, _ = events_table
    doc = ds.read_sidecar(path)
    full = ds.OrochReader({"path": path}, doc["kinds"], doc["key_cols"])
    n_all = len(full.partitions())
    assert n_all >= 4  # one per write task at least

    sel = ds.OrochReader({"path": path}, doc["kinds"], doc["key_cols"])
    residual = list(sel.pushFilters(
        [ds.EqualTo(("event_id",), 5), ds.EqualTo(("other",), 1)]))
    # the non-key filter comes back, the key filter is absorbed
    assert len(residual) == 1 and residual[0].attribute == ("other",)
    # one partitions() per plan — pushed filters are consumed by the
    # planning they belong to (Spark's worker protocol)
    parts = sel.partitions()
    assert 0 < len(parts) < n_all
    rows = [rb for p in parts for rb in sel.read(p)]
    got = [v for rb in rows for v in rb.column("event_id").to_pylist()]
    assert got == [5]


def test_unsupported_filters_still_correct(dsspark, events_table):
    path, src = events_table
    back = dsspark.read.format("oroch").load(path)
    cond = (F.col("event_type") == "click") & (F.col("value") > 50.0)
    a = src.filter(cond).orderBy("event_id").toPandas()
    b = back.filter(cond).orderBy("event_id").toPandas()[a.columns.tolist()]
    assert a.equals(b)


def test_projection_option(dsspark, events_table):
    path, src = events_table
    proj = (dsspark.read.format("oroch")
            .option("columns", "event_id,value").load(path))
    assert [f.name for f in proj.schema.fields] == ["event_id", "value"]
    a = src.select("event_id", "value").orderBy("event_id").toPandas()
    b = proj.orderBy("event_id").toPandas()
    assert a.equals(b)


def test_projection_plus_pushdown(dsspark, events_table):
    path, src = events_table
    proj = (dsspark.read.format("oroch")
            .option("columns", "event_id,value").load(path)
            .filter(F.col("event_id") <= 10))
    a = src.select("event_id", "value").filter(F.col("event_id") <= 10) \
        .orderBy("event_id").toPandas()
    b = proj.orderBy("event_id").toPandas()
    assert a.equals(b)


def test_string_key_pushdown(dsspark, tmp_path):
    path = str(tmp_path / "strkey")
    rows = [Row(conv_id=f"c{i:04d}", turn_idx=j, text=f"t{i}.{j}")
            for i in range(50) for j in range(4)]
    src = dsspark.createDataFrame(rows)
    (src.repartition(2, "conv_id").sortWithinPartitions("conv_id",
                                                        "turn_idx")
        .write.format("oroch").mode("overwrite")
        .option("key_cols", "conv_id,turn_idx")
        .option("text_cols", "text").save(path))
    back = dsspark.read.format("oroch").load(path)
    cond = (F.col("conv_id") >= "c0010") & (F.col("conv_id") <= "c0012")
    a = src.filter(cond).orderBy("conv_id", "turn_idx").toPandas()
    b = back.filter(cond).orderBy("conv_id", "turn_idx") \
        .toPandas()[a.columns.tolist()]
    assert len(a) == 12 and a.equals(b)
    # unit: the string zone maps actually prune blocks
    doc = ds.read_sidecar(path)
    r = ds.OrochReader({"path": path}, doc["kinds"], doc["key_cols"])
    list(r.pushFilters([ds.EqualTo(("conv_id",), "c0049")]))
    vals = [v for p in r.partitions() for rb in r.read(p)
            for v in rb.column("conv_id").to_pylist()]
    assert set(vals) == {"c0049"}


def test_type_matrix_roundtrip(dsspark, tmp_path):
    path = str(tmp_path / "types")
    rows = [Row(k=i, d=datetime.date(2024, 1, 1 + i % 28),
                ts=datetime.datetime(2024, 1, 1, i % 24, tzinfo=None),
                f=float(i) / 4, b=bool(i % 2),
                dec=Decimal(f"{i}.25"),
                emb=[float(i), float(i) + 0.5])
            for i in range(300)]
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("f", T.FloatType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("dec", T.DecimalType(10, 2)),
        T.StructField("emb", T.ArrayType(T.FloatType())),
    ])
    src = dsspark.createDataFrame(rows, schema)
    (src.coalesce(1).write.format("oroch").mode("overwrite")
        .option("key_cols", "k").save(path))
    back = dsspark.read.format("oroch").load(path)
    a = src.orderBy("k").toPandas()
    b = back.orderBy("k").toPandas()[a.columns.tolist()]
    assert a.drop(columns=["emb"]).equals(b.drop(columns=["emb"]))
    assert all((list(x) == list(y)) for x, y in zip(a.emb, b.emb))


def test_overwrite_replaces(dsspark, tmp_path):
    path = str(tmp_path / "ow")
    df1 = dsspark.range(100).withColumnRenamed("id", "k")
    df1.coalesce(1).write.format("oroch").mode("overwrite") \
        .option("key_cols", "k").save(path)
    df2 = dsspark.range(7).withColumnRenamed("id", "k")
    df2.coalesce(1).write.format("oroch").mode("overwrite") \
        .option("key_cols", "k").save(path)
    back = dsspark.read.format("oroch").load(path)
    assert back.count() == 7
    assert len(glob.glob(os.path.join(path, "*.parquet"))) == 1


def test_write_requires_key_cols(dsspark, tmp_path):
    with pytest.raises(Exception, match="key_cols"):
        dsspark.range(5).write.format("oroch").mode("overwrite") \
            .save(str(tmp_path / "nokey"))


def test_read_non_table_raises(dsspark, tmp_path):
    with pytest.raises(Exception, match="oroch"):
        dsspark.read.format("oroch").load(str(tmp_path)).count()


def test_sidecar_publish_existing_blocks_dir(dsspark, tmp_path):
    """A blocks dir written the library way becomes format-readable by
    publishing the sidecar."""
    path = str(tmp_path / "lib_blocks")
    src = dsspark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    engine.encode_df(src, ["n_nationkey"], n_buckets=2) \
        .write.mode("overwrite").parquet(path)
    ds.write_sidecar(path, engine.column_kinds(src.schema),
                     ["n_nationkey"])
    back = dsspark.read.format("oroch").load(path)
    a = src.orderBy("n_nationkey").toPandas()
    b = back.orderBy("n_nationkey").toPandas()[a.columns.tolist()]
    assert a.equals(b)


def test_secondary_column_pushdown(dsspark, events_table):
    """Predicates on NON-key columns are accepted and enforced by the
    reader: desc-stats + Bloom prune blocks, exact Arrow filter on the
    decoded column — results equal a plain source filter, with no
    residual Spark Filter node."""
    import contextlib
    import io

    path, src = events_table
    back = dsspark.read.format("oroch").load(path)
    for cond in ["event_type = 'signup'",
                 "user_id >= 3 AND user_id <= 5",
                 "props = '{\"k\": 42}'",
                 "event_id BETWEEN 100 AND 200 AND event_type = 'click'"]:
        a = back.filter(cond).toPandas().sort_values("event_id") \
            .reset_index(drop=True)
        b = src.filter(cond).toPandas().sort_values("event_id") \
            .reset_index(drop=True)
        assert a.equals(b[a.columns.tolist()]), cond
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.filter("event_type = 'signup'").explain()
    # no residual Filter NODE — the predicate is fully absorbed
    assert "+- Filter" not in buf.getvalue()
    assert not buf.getvalue().lstrip("= Physical Plan\n").startswith(
        "Filter")


def test_secondary_pushdown_never_false_negative(dsspark, events_table):
    """A probe value absent from the table returns empty (all blocks
    Bloom/stats-pruned) but never errors, and a present-but-rare value
    is found."""
    path, src = events_table
    back = dsspark.read.format("oroch").load(path)
    assert back.filter("props = 'no-such-json'").count() == 0
    probe = src.select("props").first()["props"]
    assert back.filter(F.col("props") == probe).count() == \
        src.filter(F.col("props") == probe).count()


def test_projection_plus_secondary_pushdown(dsspark, events_table):
    """columns option + an accepted SECONDARY-column filter work
    together (the filter column is inside the projection, so it is
    accepted and enforced by the reader)."""
    path, src = events_table
    back = (dsspark.read.format("oroch")
            .option("columns", "event_id,event_type").load(path))
    got = back.filter("event_type = 'signup'") \
        .orderBy("event_id").toPandas()
    exp = src.filter("event_type = 'signup'") \
        .select("event_id", "event_type").orderBy("event_id").toPandas()
    assert got.equals(exp)


# ---------------------------------------------------------------------------
# append mode (round 4): job-scoped parts, no pre-commit destruction
# ---------------------------------------------------------------------------

def test_append_preserves_existing(dsspark, tmp_path):
    path = str(tmp_path / "app")
    dsspark.range(100).withColumnRenamed("id", "k") \
        .coalesce(1).write.format("oroch").mode("overwrite") \
        .option("key_cols", "k").save(path)
    dsspark.range(100, 200).withColumnRenamed("id", "k") \
        .coalesce(1).write.format("oroch").mode("append") \
        .option("key_cols", "k").save(path)
    back = dsspark.read.format("oroch").load(path)
    assert back.count() == 200
    assert sorted(r.k for r in back.collect()) == list(range(200))
    assert len(glob.glob(os.path.join(path, "*.parquet"))) == 2
    with open(os.path.join(path, "_SUCCESS")) as f:
        stats = json.load(f)
    assert stats["blocks"] == 2  # accumulated across both jobs


def test_append_twice_then_overwrite(dsspark, tmp_path):
    path = str(tmp_path / "app2")
    for lo, hi in ((0, 10), (10, 30), (30, 60)):
        dsspark.range(lo, hi).withColumnRenamed("id", "k") \
            .coalesce(1).write.format("oroch").mode("append") \
            .option("key_cols", "k").save(path)
    assert dsspark.read.format("oroch").load(path).count() == 60
    dsspark.range(5).withColumnRenamed("id", "k") \
        .coalesce(1).write.format("oroch").mode("overwrite") \
        .option("key_cols", "k").save(path)
    assert dsspark.read.format("oroch").load(path).count() == 5
    assert len(glob.glob(os.path.join(path, "*.parquet"))) == 1


def test_append_key_mismatch_raises(dsspark, tmp_path):
    path = str(tmp_path / "appkey")
    df = dsspark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    df.write.format("oroch").mode("overwrite") \
        .option("key_cols", "k").save(path)
    with pytest.raises(Exception, match="key_cols"):
        df.write.format("oroch").mode("append") \
            .option("key_cols", "v").save(path)


def test_append_missing_column_raises(dsspark, tmp_path):
    path = str(tmp_path / "appmiss")
    dsspark.range(5).select(F.col("id").alias("k"),
                            (F.col("id") * 2).alias("v")) \
        .write.format("oroch").mode("overwrite") \
        .option("key_cols", "k").save(path)
    with pytest.raises(Exception, match="missing existing columns"):
        dsspark.range(5).withColumnRenamed("id", "k") \
            .write.format("oroch").mode("append") \
            .option("key_cols", "k").save(path)


def test_append_into_stream_sink_raises(dsspark, tmp_path):
    path = str(tmp_path / "appsink")
    os.makedirs(os.path.join(path, ds._BATCH_DIR))
    with open(os.path.join(path, ds._BATCH_DIR, "0.json"), "w") as f:
        json.dump({"batch_id": 0, "files": []}, f)
    with pytest.raises(Exception, match="streaming"):
        dsspark.range(5).withColumnRenamed("id", "k") \
            .write.format("oroch").mode("append") \
            .option("key_cols", "k").save(path)


def test_append_foreign_dir_raises(dsspark, tmp_path):
    path = str(tmp_path / "appforeign")
    dsspark.range(5).write.parquet(path)  # plain parquet, no sidecar
    with pytest.raises(Exception, match="not a\n?.*committed oroch"):
        dsspark.range(5).withColumnRenamed("id", "k") \
            .write.format("oroch").mode("append") \
            .option("key_cols", "k").save(path)


def test_overwrite_is_not_destructive_before_commit(dsspark, tmp_path):
    """Constructing the overwrite writer (driver-side, pre-task) must
    leave the previous table intact; only commit sweeps it. abort()
    removes only this job's files."""
    path = str(tmp_path / "latecommit")
    dsspark.range(50).withColumnRenamed("id", "k") \
        .coalesce(1).write.format("oroch").mode("overwrite") \
        .option("key_cols", "k").save(path)
    before = sorted(glob.glob(os.path.join(path, "*.parquet")))
    kinds = [("k", "i64")]
    w = ds.OrochWriter({"path": path, "key_cols": "k"}, kinds, True)
    assert sorted(glob.glob(os.path.join(path, "*.parquet"))) == before
    # a stray part from this job is cleaned by abort, old table kept
    stray = os.path.join(path, f"part-{w.job_id}-00000-dead.parquet")
    with open(stray, "wb") as f:
        f.write(b"x")
    w.abort([])
    assert not os.path.exists(stray)
    assert sorted(glob.glob(os.path.join(path, "*.parquet"))) == before
    assert dsspark.read.format("oroch").load(path).count() == 50


def test_append_with_added_column_reads_evolved(dsspark, tmp_path):
    """Append a new column: sidecar schema widens, old blocks
    null-fill it through the format('oroch') reader."""
    path = str(tmp_path / "appevo")
    dsspark.range(100).select(F.col("id").alias("k"),
                              (F.col("id") * 2).alias("a")) \
        .coalesce(1).write.format("oroch").mode("overwrite") \
        .option("key_cols", "k").save(path)
    dsspark.range(100, 150).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a"),
        F.concat(F.lit("x"), F.col("id")).alias("b")) \
        .coalesce(1).write.format("oroch").mode("append") \
        .option("key_cols", "k").save(path)
    back = dsspark.read.format("oroch").load(path)
    assert set(back.columns) == {"k", "a", "b"}
    assert back.count() == 150
    assert back.filter("b IS NULL").count() == 100
    assert back.filter("k = 120").collect()[0]["b"] == "x120"
    # pushdown on the ADDED column stays correct over old blocks
    assert back.filter(F.col("b") == "x120").count() == 1


def test_stream_reader_null_fills_pre_evolution_block(dsspark, tmp_path):
    """OrochStreamReader.read on a block written before a column
    existed must null-fill, not crash."""
    import pyarrow.parquet as pq
    from pyspark.sql import Row

    path = str(tmp_path / "evoblocks")
    old = dsspark.createDataFrame([Row(k=i, a=i * 2) for i in range(40)])
    engine.encode_df(old, ["k"], n_buckets=1, block_rows=32) \
        .write.mode("overwrite").parquet(path)
    fpath = glob.glob(os.path.join(path, "*.parquet"))[0]
    rdr = ds.OrochStreamReader(
        {"path": path}, [("k", "i64"), ("a", "i64"), ("b", "str")])
    batches = list(rdr.read(ds._BatchFilePartition(fpath)))
    assert sum(b.num_rows for b in batches) == 40
    for b in batches:
        assert b.column("b").null_count == b.num_rows


# ---------------------------------------------------------------------------
# round 4: StringStartsWith / IsNull / IsNotNull pushdown
# ---------------------------------------------------------------------------

def test_startswith_pushdown(dsspark, tmp_path):
    path = str(tmp_path / "sw")
    rows = [Row(name=f"conv-{i:04d}", v=i) for i in range(2000)]
    src = dsspark.createDataFrame(rows)
    (src.repartition(4, "name").sortWithinPartitions("name")
        .write.format("oroch").mode("overwrite")
        .option("key_cols", "name").save(path))
    back = dsspark.read.format("oroch").load(path)
    got = back.filter(F.col("name").startswith("conv-00"))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "StartsWith" not in plan  # absorbed, not re-applied
    exp = src.filter(F.col("name").startswith("conv-00")) \
        .orderBy("name").toPandas()
    assert got.orderBy("name").toPandas()[exp.columns.tolist()] \
        .equals(exp)
    # the prefix range actually prunes planned row-groups
    doc = ds.read_sidecar(path)
    full = ds.OrochReader({"path": path}, doc["kinds"], doc["key_cols"])
    sel = ds.OrochReader({"path": path}, doc["kinds"], doc["key_cols"])
    list(sel.pushFilters([ds.StringStartsWith(("name",), "conv-1999")]))
    assert 0 < len(sel.partitions()) < len(full.partitions())


def test_null_pushdown(dsspark, tmp_path):
    path = str(tmp_path / "nulls")
    src = dsspark.range(1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 == 0, None)
         .otherwise(F.col("id") * 2).alias("v"),
        F.lit(3).alias("w"))  # non-nullable: IS NULL prunes everything
    src.coalesce(1).write.format("oroch").mode("overwrite") \
        .option("key_cols", "k").option("block_rows", "128").save(path)
    back = dsspark.read.format("oroch").load(path)
    assert back.filter(F.col("v").isNull()).count() == \
        src.filter(F.col("v").isNull()).count()
    assert back.filter(F.col("v").isNotNull()).count() == \
        src.filter(F.col("v").isNotNull()).count()
    assert back.filter(F.col("w").isNull()).count() == 0
    # combined with a range: exact rows
    got = back.filter(F.col("v").isNull() & (F.col("k") < 100)) \
        .orderBy("k").toPandas()
    exp = src.filter(F.col("v").isNull() & (F.col("k") < 100)) \
        .orderBy("k").toPandas()
    assert got[exp.columns.tolist()].equals(exp)
    # evolution: a column added later — IS NULL keeps old blocks,
    # IS NOT NULL prunes them
    dsspark.range(1000, 1100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
        F.lit(3).alias("w"), F.lit("new").alias("z")) \
        .coalesce(1).write.format("oroch").mode("append") \
        .option("key_cols", "k").save(path)
    back = dsspark.read.format("oroch").load(path)
    assert back.filter(F.col("z").isNull()).count() == 1000
    assert back.filter(F.col("z").isNotNull()).count() == 100


def test_reader_filter_state_is_per_plan(events_table):
    """Module-side regression pin: pushed filters live in the
    partitions of the plan they were pushed for; a subsequent
    partitions() call WITHOUT a pushFilters (how Spark plans an
    unfiltered query) must plan the full scan again. (Spark 4.1's own
    scan cache can still replay a filtered plan for a reused loaded
    DataFrame — upstream; see datasource.register docstring — but the
    reader itself must never leak filter state across plans.)"""
    path, _ = events_table
    doc = ds.read_sidecar(path)
    rdr = ds.OrochReader({"path": path}, doc["kinds"], doc["key_cols"])
    n_all = len(rdr.partitions())
    list(rdr.pushFilters([ds.EqualTo(("event_id",), 5)]))
    filtered_parts = rdr.partitions()
    assert 0 < len(filtered_parts) < n_all
    assert all(p.preds for p in filtered_parts)
    # no pushFilters this time: the "unfiltered query" plan
    again = rdr.partitions()
    assert len(again) == n_all
    assert all(not p.preds for p in again)
    rows = sum(rb.num_rows for p in again for rb in rdr.read(p))
    assert rows == 1000  # the whole sf0.001 events table


def test_crashed_append_parts_invisible_and_swept(dsspark, tmp_path):
    """A job that died before commit never published its part files:
    the sidecar's committed-file registry hides them from readers, and
    the next successful commit sweeps them from disk."""
    path = str(tmp_path / "crashed")
    dsspark.range(100).withColumnRenamed("id", "k") \
        .coalesce(1).write.format("oroch").mode("overwrite") \
        .option("key_cols", "k").save(path)
    # simulate the crash leftovers: a part file from an unknown job
    stray = os.path.join(path, "part-deadjob-00000-ffff.parquet")
    with open(stray, "wb") as f:
        f.write(b"not even parquet")   # never opened if invisible
    assert dsspark.read.format("oroch").load(path).count() == 100
    # a FRESH unreferenced part might be a concurrent append's
    # in-flight work — commits must NOT sweep it yet
    dsspark.range(200, 210).withColumnRenamed("id", "k") \
        .coalesce(1).write.format("oroch").mode("append") \
        .option("key_cols", "k").save(path)
    assert os.path.exists(stray)
    # once older than the grace period it is a crashed job's orphan
    # and the next commit sweeps it
    import time as _t
    old = _t.time() - 2 * ds._SWEEP_GRACE
    os.utime(stray, (old, old))
    dsspark.range(100, 150).withColumnRenamed("id", "k") \
        .coalesce(1).write.format("oroch").mode("append") \
        .option("key_cols", "k").save(path)
    assert not os.path.exists(stray)
    assert dsspark.read.format("oroch").load(path).count() == 160
    with open(os.path.join(path, ds.SIDECAR)) as f:
        reg = json.load(f)["files"]
    assert len(reg) == 3 and all(r.endswith(".parquet") for r in reg)


# ---------------------------------------------------------------------------
# round 4 (cont.): !=, NOT IN, <=>, endswith/contains, NOT(...) pushdown
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def neg_table(dsspark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dsneg") / "t")
    src = dsspark.range(2000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 5 == 0, None)
         .otherwise(F.col("id") % 7).alias("v"),
        F.concat(F.lit("name-"),
                 F.format_string("%04d", F.col("id"))).alias("s"))
    src.coalesce(1).write.format("oroch").mode("overwrite") \
        .option("key_cols", "k").option("block_rows", "128").save(path)
    return path, src


@pytest.mark.parametrize("cond", [
    "v != 3",                        # Not(EqualTo): nulls filtered
    "NOT (v IN (1, 2))",             # Not(In)
    "v <=> 3",                       # EqualNullSafe
    "NOT (v <=> 3)",                 # Not(EqualNullSafe): nulls PASS
    "v <=> NULL",                    # <=> NULL == IS NULL
    "endswith(s, '7')",              # StringEndsWith
    "contains(s, '99')",             # StringContains
    "NOT startswith(s, 'name-0')",
    "NOT endswith(s, '7')",
    "NOT contains(s, '99')",
    "v != 3 AND k < 700",            # mixed with a range
])
def test_negation_family_pushdown(dsspark, neg_table, cond):
    """The remaining Spark 4.1 Python-DS filter shapes are accepted
    and enforced exactly (ternary-logic null handling included) with
    no residual Spark Filter node."""
    path, src = neg_table
    back = dsspark.read.format("oroch").load(path)
    got = back.filter(cond).orderBy("k").toPandas()
    exp = src.filter(cond).orderBy("k").toPandas()
    assert got[exp.columns.tolist()].equals(exp)
    plan = back.filter(cond) \
        ._jdf.queryExecution().executedPlan().toString()
    # fully absorbed: Project over BatchScan, no Filter node (the
    # plan string always carries "RuntimeFilters: [...]" — match the
    # node name, not the substring)
    assert "+- Filter" not in plan and not plan.startswith("Filter")


def test_neq_constant_prune(dsspark, tmp_path):
    """NOT(key = v) prunes containers whose stats are constant v: a
    single-valued key column makes every row group [7, 7], so the
    planner plans an empty-scan sentinel (zero data partitions)."""
    path = str(tmp_path / "neqconst")
    dsspark.range(1000).select(F.lit(7).alias("w"),
                               F.col("id").alias("p")) \
        .coalesce(1).write.format("oroch").mode("overwrite") \
        .option("key_cols", "w").save(path)
    doc = ds.read_sidecar(path)
    rdr = ds.OrochReader({"path": path}, doc["kinds"], doc["key_cols"])
    assert len(rdr.partitions()) == 1
    unhandled = list(rdr.pushFilters([ds.Not(ds.EqualTo(("w",), 7))]))
    assert unhandled == []

    def is_empty_scan(parts):
        # a fully-pruned plan is ONE file-less sentinel (an empty
        # partition list makes Spark call read(None))
        return (len(parts) == 1 and parts[0].file is None
                and list(rdr.read(parts[0])) == [])

    assert is_empty_scan(rdr.partitions())
    # NOT IN covering the constant also prunes; a non-covering set
    # does not
    list(rdr.pushFilters([ds.Not(ds.In(("w",), (6, 7)))]))
    assert is_empty_scan(rdr.partitions())
    list(rdr.pushFilters([ds.Not(ds.EqualTo(("w",), 6))]))
    assert len(rdr.partitions()) == 1


def test_stats_overlap_neq_unit():
    p = ds._KeyPred(neq={7}, raw=(("neq", (7,)),))
    assert not ds._stats_overlap(7, 7, p)        # constant excluded
    assert ds._stats_overlap(6, 7, p)            # range: may hold 6
    assert ds._stats_overlap(None, None, p)      # no stats: keep
    s = ds._KeyPred(neq={"x"}, raw=(("neq", ("x",)),))
    assert not ds._stats_overlap("x", "x", s)
    assert ds._stats_overlap("w", "y", s)


# ---------------------------------------------------------------------------
# round 4 (cont.): advisory write lock — concurrent commit safety
# ---------------------------------------------------------------------------

def test_write_lock_mutual_exclusion(tmp_path):
    import threading
    import time as _t

    path = str(tmp_path)
    order = []

    def hold():
        with ds._write_lock(path):
            order.append("a-in")
            _t.sleep(0.4)
            order.append("a-out")

    t = threading.Thread(target=hold)
    t.start()
    _t.sleep(0.1)
    with ds._write_lock(path, timeout=5):
        order.append("b-in")
    t.join()
    assert order == ["a-in", "a-out", "b-in"]
    assert not os.path.exists(os.path.join(path, ds._WLOCK_DIR))


def test_write_lock_timeout_and_stale_steal(tmp_path):
    import time as _t

    path = str(tmp_path)
    lock = os.path.join(path, ds._WLOCK_DIR)
    os.mkdir(lock)                     # a "writer" that never returns
    with pytest.raises(TimeoutError):
        with ds._write_lock(path, timeout=0.3):
            pass
    # a crashed writer's lock (older than ttl) is stolen — after the
    # ~2s same-mtime confirmation window (a lock RELEASED and re-taken
    # by a live writer in between gets a fresh mtime and is never
    # stolen)
    old = _t.time() - 1000
    os.utime(lock, (old, old))
    t0 = _t.monotonic()
    with ds._write_lock(path, timeout=10, ttl=300):
        pass                            # acquired by stealing
    assert _t.monotonic() - t0 >= 2.0   # staleness was confirmed
    assert not os.path.exists(lock)


def test_concurrent_appends_union(dsspark, tmp_path):
    """Two append jobs that BOTH planned against the same table
    version (the realistic concurrent-driver race): the commit path
    re-reads the registry and the schema under the write lock, so
    neither update is lost — files union, evolved columns union."""
    import pyarrow as pa

    path = str(tmp_path / "conc")
    dsspark.range(100).withColumnRenamed("id", "k") \
        .coalesce(1).write.format("oroch").mode("overwrite") \
        .option("key_cols", "k").save(path)

    def make_writer(extra_col):
        kinds = [("k", "i64"), (extra_col, "i64")]
        return ds.OrochWriter({"path": path, "key_cols": "k"},
                              kinds, overwrite=False), kinds

    # both writers initialize BEFORE either commits (both see the
    # 1-file registry and the original schema)
    wa, ka = make_writer("va")
    wb, kb = make_writer("vb")

    def run(w, kinds, lo):
        batch = pa.RecordBatch.from_pydict(
            {kinds[0][0]: list(range(lo, lo + 50)),
             kinds[1][0]: [1] * 50})
        msg = w.write(iter([batch]))
        w.commit([msg])

    run(wa, ka, 1000)
    run(wb, kb, 2000)
    with open(os.path.join(path, ds.SIDECAR)) as f:
        doc = json.load(f)
    assert len(doc["files"]) == 3           # no lost update
    names = [n for n, _ in doc["kinds"]]
    assert "va" in names and "vb" in names  # schema union survived
    back = dsspark.read.format("oroch").load(path)
    assert back.count() == 200
    assert back.filter(F.col("va").isNotNull()).count() == 50
    assert back.filter(F.col("vb").isNotNull()).count() == 50


def test_compaction_keeps_mid_run_stream_batch(dsspark, tmp_path,
                                               monkeypatch):
    """A stream batch committed while compact_sink's re-encode runs
    must survive the version swap: the publish re-lists manifests
    under the write lock instead of trusting its pre-scan."""
    from oroch_spark.sources import table as tbl

    path = str(tmp_path / "sink")
    bdir = os.path.join(path, ds._BATCH_DIR)
    os.makedirs(bdir)

    def sink_batch(bid, lo, n):
        df = dsspark.range(lo, lo + n).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        blocks = engine.encode_df(df, ["k"], n_buckets=1,
                                  block_rows=64)
        import pyarrow.parquet as pq
        fname = f"stream-{bid:05d}-{os.urandom(4).hex()}.parquet"
        pdfb = blocks.toPandas()
        import pyarrow as pa
        pq.write_table(pa.Table.from_pandas(pdfb),
                       os.path.join(path, fname))
        with open(os.path.join(bdir, f"{bid}.json"), "w") as f:
            json.dump({"batch_id": bid, "files": [fname],
                       "blocks": 1, "bytes_in": 0, "bytes_out": 0}, f)

    sink_batch(0, 0, 100)
    sink_batch(1, 100, 100)
    ds.write_sidecar(path, [("k", "i64"), ("v", "i64")], ["k"])

    real_encode = engine.encode_df
    fired = {}

    def encode_and_race(*a, **kw):
        # simulate a concurrent stream commit mid-compaction: a new
        # manifest appears after compact_sink's pre-scan
        if "mid" not in fired:
            fired["mid"] = True
            sink_batch(2, 200, 100)
        return real_encode(*a, **kw)

    monkeypatch.setattr(ds.engine, "encode_df", encode_and_race)
    ds.compact_sink(dsspark, path, n_buckets=1, latest_wins=False)
    monkeypatch.undo()
    back = dsspark.read.format("oroch").load(path)
    assert back.count() == 300          # batch 2 survived the swap
    names = {os.path.basename(m) for m in ds._manifest_paths(path)}
    assert "2.json" in names
    assert not any(n in names for n in ("0.json", "1.json"))


def test_concurrent_append_kind_conflict_fails_cleanly(dsspark,
                                                       tmp_path):
    """Two concurrent appends adding the SAME new column with
    different kinds: the second commit must fail (its blocks already
    encode its kind) instead of publishing a sidecar that mis-decodes
    one job's data."""
    import pyarrow as pa

    path = str(tmp_path / "kindconf")
    dsspark.range(10).withColumnRenamed("id", "k") \
        .coalesce(1).write.format("oroch").mode("overwrite") \
        .option("key_cols", "k").save(path)
    wa = ds.OrochWriter({"path": path, "key_cols": "k"},
                        [("k", "i64"), ("x", "i64")], overwrite=False)
    wb = ds.OrochWriter({"path": path, "key_cols": "k"},
                        [("k", "i64"), ("x", "str")], overwrite=False)
    ma = wa.write(iter([pa.RecordBatch.from_pydict(
        {"k": [100], "x": [1]})]))
    wa.commit([ma])
    mb = wb.write(iter([pa.RecordBatch.from_pydict(
        {"k": [200], "x": ["s"]})]))
    with pytest.raises(ValueError, match="concurrent append"):
        wb.commit([mb])
    # the table still reads consistently with A's commit only
    back = dsspark.read.format("oroch").load(path)
    assert back.count() == 11
    assert dict(ds.read_sidecar(path)["kinds"])["x"] == "i64"


def test_stream_sweep_spares_fresh_unreferenced_parts(dsspark,
                                                      tmp_path):
    """The stream commit's orphan sweep must not delete FRESH
    unreferenced stream-* files (a concurrent compaction's landed
    parts whose manifest publishes moments later); old ones go."""
    import time as _t

    import pyarrow as pa

    path = str(tmp_path / "sweepgrace")
    os.makedirs(os.path.join(path, ds._BATCH_DIR))
    w = ds.OrochStreamWriter({"path": path, "key_cols": "k"},
                             [("k", "i64")])
    fresh = os.path.join(path, "stream-compact-9-abc.parquet")
    stale = os.path.join(path, "stream-00000-dead.parquet")
    for p in (fresh, stale):
        with open(p, "wb") as f:
            f.write(b"x")
    old = _t.time() - 2 * ds._SWEEP_GRACE
    os.utime(stale, (old, old))
    m = w.write(iter([pa.RecordBatch.from_pydict({"k": [1, 2]})]))
    w.commit([m], 0)
    assert os.path.exists(fresh)       # in-flight compaction output
    assert not os.path.exists(stale)   # genuinely crashed leftover


def test_writer_sketch_cols_power_approx_ops(dsspark, tmp_path):
    """option('sketch_cols') lands HLL + quantile summaries in the
    written blocks; reading the raw blocks parquet feeds
    approx_distinct/approx_quantile with no extra encode."""
    d = str(tmp_path / "sk")
    df = dsspark.createDataFrame(
        [(i, i % 211) for i in range(6000)],
        "event_id bigint, user_id bigint")
    (df.repartition(4, "event_id").sortWithinPartitions("event_id")
       .write.format("oroch").mode("overwrite")
       .option("key_cols", "event_id")
       .option("block_rows", "512")
       .option("sketch_cols", "user_id").save(d))
    blocks = dsspark.read.parquet(d)
    est = engine.approx_distinct(blocks, "user_id") \
        .collect()[0].approx_ndv
    assert abs(est - 211) <= 4     # linear-counting regime: near-exact
    got = {r.q: r.value for r in
           engine.approx_quantile(blocks, "user_id",
                                  [0.0, 0.5, 1.0]).collect()}
    assert got[0.0] == 0 and got[1.0] == 210
    assert abs(got[0.5] - 105) <= 8
    # and the decoded read is unaffected
    back = dsspark.read.format("oroch").load(d)
    assert back.count() == 6000


def test_all_pruned_scan_returns_empty(dsspark, events_table):
    """A pushed predicate beyond the table's key domain prunes EVERY
    row group. partitions() must still hand Spark a non-empty plan
    (Spark calls read(None) on an empty one — observed at sf0.001
    where event_id tops out below the bench filter's lower bound) and
    the scan must return zero rows, not crash."""
    path, src = events_table
    back = dsspark.read.format("oroch").load(path)
    hi = src.agg(F.max("event_id")).collect()[0][0]
    assert back.filter(F.col("event_id") > hi + 10**9).count() == 0
    # conjunction with a non-key predicate, same shape as bench.py
    assert back.filter((F.col("event_id") >= hi + 10**9)
                       & (F.col("event_type") == "click")).count() == 0
    # and the reader is not poisoned for the next, unfiltered query
    assert dsspark.read.format("oroch").load(path).count() == src.count()


# ---------------------------------------------------------------------------
# planning on the block index: legacy descriptors, stale plans
# ---------------------------------------------------------------------------

def _nullable_table(dsspark, path, rows=4000):
    """``k`` plus a nullable ``v`` (every 7th row null), one file of
    512-row blocks; returns the source frame."""
    src = dsspark.range(rows).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id"))
        .alias("v"))
    src.coalesce(1).write.format("oroch").mode("overwrite") \
        .option("key_cols", "k").option("block_rows", "512").save(path)
    return src


def test_null_tests_on_legacy_descriptors(dsspark, tmp_path):
    """Blocks whose nullable column carries ``z`` but no ``nc`` (the
    layout before exact null counts, which ``engine.null_count`` reads
    as unknown) are never pruned by a null test: IS NULL, IS NOT NULL
    and IS NULL under a key range count what the source counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "legacy_nc")
    src = _nullable_table(dsspark, path)
    for f in glob.glob(os.path.join(path, "*.parquet")):
        t = pq.read_table(f)
        descs = [json.dumps({"cols": [
            {k: v for k, v in c.items() if k != "nc"}
            for c in json.loads(d)["cols"]]}) for d in t["desc"].to_pylist()]
        assert descs != t["desc"].to_pylist()
        pq.write_table(t.set_column(t.schema.get_field_index("desc"),
                                    "desc", pa.array(descs)), f)
    back = dsspark.read.format("oroch").load(path)
    for cond in (F.col("v").isNull(), F.col("v").isNotNull(),
                 F.col("v").isNull() & (F.col("k") < 1000)):
        assert back.filter(cond).count() == src.filter(cond).count() > 0


def test_read_of_a_file_rewritten_since_planning_raises(dsspark, tmp_path):
    """A partition names rows of a row group by position; when its file
    is rewritten between planning and the read, the read raises an
    error naming the file instead of decoding other blocks."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "stale")
    _nullable_table(dsspark, path)
    doc = ds.read_sidecar(path)
    rdr = ds.OrochReader({"path": path}, doc["kinds"], doc["key_cols"])
    list(rdr.pushFilters([ds.GreaterThanOrEqual(("k",), 3000)]))
    part = rdr.partitions()[0]
    t = pq.read_table(part.file)
    pq.write_table(t.slice(0, t.num_rows - 1), part.file)
    with pytest.raises(OSError, match=re.escape(part.file)):
        list(rdr.read(part))


def test_planning_over_files_that_keep_changing_raises(dsspark, tmp_path,
                                                       monkeypatch):
    """Each index read rewrites the table's file, so no read of it is
    stable: planning raises an error naming the table, and no index of
    the file is cached."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "churn")
    _nullable_table(dsspark, path)
    f = glob.glob(os.path.join(path, "*.parquet"))[0]
    t = pq.read_table(f)
    stock, reads = engine._read_index, []

    def read_then_rewrite(files, cols=engine._INDEX_COLS):
        out = stock(files, cols)
        reads.append(f)
        pq.write_table(t.slice(0, t.num_rows - len(reads) % 2), f)
        return out

    monkeypatch.setattr(engine, "_read_index", read_then_rewrite)
    doc = ds.read_sidecar(path)
    rdr = ds.OrochReader({"path": path}, doc["kinds"], doc["key_cols"])
    list(rdr.pushFilters([ds.IsNull(("v",))]))
    with pytest.raises(OSError, match=re.escape(path)):
        rdr.partitions()
    assert len(reads) == 2
    assert not any(f in [st[0] for st in key] for key in engine._indexes)
