"""Projection pushdown into the block format: every reader that can
leave a column out — decode_df(columns=...), lookup_where, range_scan,
scan_where and grep_where with columns=..., group_count/group_agg, and
format("oroch") with option("columns") — must touch ONLY the requested
columns' bytes, and a filtered read only its predicate columns plus
the output columns at matching rows. Proven by corrupting an
unrequested column's payload slice — the projection still decodes
exactly, while a read of that column fails."""
import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from oroch_spark import engine
from oroch_spark.sources import datasource as ds


@pytest.fixture(scope="module")
def ctx(spark):
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["doc_id"], n_buckets=2,
                              text_cols=["text"]).cache()
    blocks.count()
    return src, kinds, blocks


def test_projection_matches_source(spark, ctx):
    src, kinds, blocks = ctx
    got = engine.decode_df(blocks, kinds,
                           columns=["doc_id", "n_chars"]) \
        .orderBy("doc_id").collect()
    exp = src.select("doc_id", "n_chars").orderBy("doc_id").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]


def _corrupt_text_payload(desc: str, payload: bytes) -> bytes:
    td = next(c for c in json.loads(desc)["cols"] if c["n"] == "text")
    p = bytearray(payload)
    p[td["o"]:td["o"] + td["l"]] = b"\xff" * td["l"]
    return bytes(p)


def _corrupt_text_column(spark, blocks):
    out = []
    for r in blocks.collect():
        rd = r.asDict()
        rd["payload"] = _corrupt_text_payload(r.desc, r.payload)
        out.append(rd)
    return spark.createDataFrame(out, schema=blocks.schema)


@pytest.fixture(scope="module")
def bad(spark, ctx):
    return _corrupt_text_column(spark, ctx[2]).cache()


def _rows(df, order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_projection_never_touches_unrequested_bytes(spark, ctx):
    src, kinds, blocks = ctx
    bad = _corrupt_text_column(spark, blocks)
    # projection that excludes text decodes perfectly...
    got = engine.decode_df(bad, kinds, columns=["doc_id", "lang"]) \
        .orderBy("doc_id").collect()
    exp = src.select("doc_id", "lang").orderBy("doc_id").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]
    # ...while a full decode hits the corrupted bytes and fails
    with pytest.raises(Exception):
        engine.decode_df(bad, kinds).collect()


def test_lookup_where_projection_skips_unrequested_bytes(spark, ctx, bad):
    src, kinds, _ = ctx
    got = engine.lookup_where(bad, kinds, "lang", "es",
                              columns=["doc_id", "n_chars"])
    exp = src.filter(F.col("lang") == "es").select("doc_id", "n_chars")
    assert _rows(got, ["doc_id"]) == _rows(exp, ["doc_id"])
    with pytest.raises(Exception):
        engine.lookup_where(bad, kinds, "lang", "es").collect()


def test_scan_builders_decode_only_predicate_and_output_columns(
        spark, ctx, bad):
    """A scan selects rows on its predicate column and decodes the
    output columns only at matching rows: a projection without the
    corrupted column reads exactly, a block kept by its stats but with
    no matching row decodes no output column at all, and a read that
    outputs the corrupted column at matching rows fails."""
    src, kinds, _ = ctx
    cols = ["doc_id", "n_chars"]
    missing = sorted(set(range(47, 559)) - {
        r.n_chars for r in src.select("n_chars").collect()})[0]
    cases = [
        (lambda c: engine.range_scan(bad, kinds, "doc_id", 100, 200, c),
         F.col("doc_id").between(100, 200)),
        (lambda c: engine.scan_where(bad, kinds, "n_chars", 100, 150, c),
         F.col("n_chars").between(100, 150)),
        (lambda c: engine.grep_where(bad, kinds, "lang", "es", c),
         F.col("lang") == "es")]
    for build, cond in cases:
        exp = src.filter(cond).select(*cols)
        assert len(_rows(exp, ["doc_id"])) > 0
        assert _rows(build(cols), ["doc_id"]) == _rows(exp, ["doc_id"])
        with pytest.raises(Exception):
            build(None).collect()
    assert engine.scan_where(bad, kinds, "n_chars", missing,
                             missing).collect() == []


def test_group_count_skips_unrequested_bytes(spark, ctx, bad):
    src, kinds, _ = ctx
    # lang takes the dictionary-only shortcut, n_chars a full decode
    for col in ("lang", "n_chars"):
        got = engine.group_count(bad, kinds, col)
        exp = src.groupBy(col).agg(F.count("*").alias("n_rows"))
        assert _rows(got, [col]) == _rows(exp, [col])


def test_group_agg_skips_unrequested_bytes(spark, ctx, bad):
    src, kinds, _ = ctx
    got = engine.group_agg(bad, kinds, ["lang", "source"], "n_chars")
    exp = src.groupBy("lang", "source").agg(
        F.count("*").alias("n_rows"), F.sum("n_chars").alias("sum_v"),
        F.min("n_chars").alias("min_v"), F.max("n_chars").alias("max_v"))
    key = ["lang", "source"]
    assert _rows(got, key) == _rows(exp.select(*got.columns), key)


def test_datasource_projection_with_filter_skips_unrequested_bytes(
        spark, ctx, tmp_path):
    src, _, _ = ctx
    ds.register(spark)
    path = str(tmp_path / "docs")
    (src.repartition(2, "doc_id").sortWithinPartitions("doc_id")
        .write.format("oroch").mode("overwrite")
        .option("key_cols", "doc_id").save(path))
    for f in glob.glob(os.path.join(path, "*.parquet")):
        t = pq.read_table(f)
        payload = [_corrupt_text_payload(d, p) for d, p in zip(
            t.column("desc").to_pylist(), t.column("payload").to_pylist())]
        i = t.schema.get_field_index("payload")
        pq.write_table(t.set_column(i, t.schema.field(i),
                                    pa.array(payload, pa.binary())), f)
    cond = (F.col("doc_id") >= 100) & (F.col("lang") == "es")
    got = (spark.read.format("oroch").option("columns", "doc_id,lang")
           .load(path).filter(cond))
    exp = src.select("doc_id", "lang").filter(cond)
    assert len(_rows(exp, ["doc_id"])) > 0
    assert _rows(got, ["doc_id"]) == _rows(exp, ["doc_id"])
    with pytest.raises(Exception):
        spark.read.format("oroch").load(path).filter(cond).collect()
    # a pushed filter that the block index keeps a block for but that
    # matches no row decodes no output column
    missing = sorted(set(range(47, 559)) - {
        r.n_chars for r in src.select("n_chars").collect()})[0]
    assert spark.read.format("oroch").load(path) \
        .filter(F.col("n_chars") == missing).collect() == []
