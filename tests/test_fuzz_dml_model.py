"""Model-based random-operation fuzz of the DML/latest-wins table.

A random sequence of upsert / delete_where / compact (immediate and
deferred GC) / vacuum is applied both to a real oroch streaming-sink
table and to an in-memory dict model; after EVERY operation the
latest-wins live view must equal the model exactly. This exercises the
operation INTERACTIONS the per-flow tests in test_dml.py can't — a
delete after a compact after an upsert with tombstone schema
evolution, deferred-GC compaction followed immediately by a
zero-grace vacuum, upserts resurrecting deleted keys — end-to-end
through the real sink (`sources/dml.py`, `sources/datasource.py`).

Default 6 steps (~1 min); OROCH_FUZZ_DML_STEPS / OROCH_FUZZ_DML_SEED
crank it (deep runs totalling 208 steps across nine seeds have run clean).
"""
import os
import random

import pytest

from pyspark.sql import types as T

from oroch_spark.sources import datasource as ds
from oroch_spark.sources import dml

STEPS = int(os.environ.get("OROCH_FUZZ_DML_STEPS", "6"))
SEED = int(os.environ.get("OROCH_FUZZ_DML_SEED", "1"))

SCHEMA = T.StructType([
    T.StructField("k", T.LongType(), False),
    T.StructField("v", T.DoubleType(), False),
    T.StructField("cat", T.StringType(), False),
])


@pytest.fixture()
def sink(spark, tmp_path):
    ds.register(spark)
    rnd = random.Random(SEED)
    rows = [(i, float(rnd.randint(0, 1000)), f"c{rnd.randint(0, 9)}")
            for i in range(300)]
    srcdir = str(tmp_path / "src")
    spark.createDataFrame(rows, SCHEMA).coalesce(2) \
        .write.mode("overwrite").parquet(srcdir)
    path = str(tmp_path / "sink")
    q = (spark.readStream.schema(SCHEMA).parquet(srcdir)
         .writeStream.format("oroch").option("path", path)
         .option("key_cols", "k")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(600), "fixture stream timed out"
    return path, rows


def test_random_dml_sequence_matches_model(spark, sink):
    path, rows = sink
    rnd = random.Random(SEED + 100)
    model = {k: (v, c, False) for k, v, c in rows}
    next_key = 300
    has_tomb = False

    def live_model():
        return sorted((k, v, c) for k, (v, c, dele) in model.items()
                      if not dele)

    def read_live():
        r = spark.read.format("oroch").option("latest_wins", "true")
        if has_tomb:
            r = r.option("tombstone_col", "deleted")
        df = r.load(path).select("k", "v", "cat")
        return sorted(tuple(x) for x in
                      df.toPandas().itertuples(index=False))

    assert read_live() == live_model()
    for step in range(STEPS):
        op = rnd.choices(
            ["upsert", "delete", "compact_gc", "compact_nogc_vacuum",
             "vacuum_noop"],
            weights=[4, 3, 1, 1, 1])[0]
        if op == "upsert":
            keys = rnd.sample(sorted(model.keys()),
                              min(len(model), rnd.randint(1, 30)))
            if rnd.random() < 0.5:  # brand-new keys too
                keys += list(range(next_key,
                                   next_key + rnd.randint(1, 10)))
                next_key = max(keys) + 1
            up_rows = [(k, float(rnd.randint(0, 1000)),
                        f"c{rnd.randint(0, 9)}")
                       for k in sorted(set(keys))]
            dml.upsert(spark, path,
                       spark.createDataFrame(up_rows, SCHEMA),
                       n_buckets=2,
                       tombstone_col="deleted" if has_tomb else None)
            for k, v, c in up_rows:
                model[k] = (v, c, False)
        elif op == "delete":
            if rnd.random() < 0.5:
                thr = rnd.randint(0, 1000)
                pred = f"v > {thr}"
                match = lambda v, c: v > thr
            else:
                cat = f"c{rnd.randint(0, 9)}"
                pred = f"cat = '{cat}'"
                match = lambda v, c, cat=cat: c == cat
            rep = dml.delete_where(spark, path, pred,
                                   tombstone_col="deleted",
                                   n_buckets=2)
            exp_del = [k for k, (v, c, dele) in model.items()
                       if not dele and match(v, c)]
            assert rep["n_deleted"] == len(exp_del), (step, pred)
            if exp_del:
                has_tomb = True
            for k in exp_del:
                v, c, _ = model[k]
                model[k] = (v, c, True)
        elif op in ("compact_gc", "compact_nogc_vacuum"):
            ds.compact_sink(
                spark, path, n_buckets=2, block_rows=4096,
                tombstone_col="deleted" if has_tomb else None,
                gc=(op == "compact_gc"))
            if has_tomb:
                # physical delete resolution folds tombstoned keys away
                model = {k: t for k, t in model.items() if not t[2]}
                has_tomb = "deleted" in dict(
                    ds.read_sidecar(path)["kinds"])
            if op == "compact_nogc_vacuum":
                dml.vacuum(path, older_than_s=0)
        else:
            dml.vacuum(path, older_than_s=3600)
        assert read_live() == live_model(), (step, op)
