"""writeStream.format("oroch"): the incremental-encode contract as a
first-class streaming sink — per-batch manifests, exactly-once
committed view, latest-wins merge-on-read, batch-reader compat."""
import glob
import json
import os

import pytest
from pyspark.sql import Row, functions as F

from oroch_spark import engine
from oroch_spark.sources import datasource as ds

from latest_model import latest_model, model_rows, sorted_rows

SCHEMA = "conv_id string, turn_idx int, text string"
KINDS = [("conv_id", "str"), ("turn_idx", "i32"), ("text", "str")]


@pytest.fixture(scope="module")
def sink(spark, tmp_path_factory):
    ds.register(spark)
    td = tmp_path_factory.mktemp("sink")
    srcdir = str(td / "in")
    os.makedirs(srcdir)
    rows1 = [Row(conv_id="c1", turn_idx=i, text=f"t{i}")
             for i in range(100)]
    rows2 = [Row(conv_id="c1", turn_idx=0, text="UPDATED")] + \
        [Row(conv_id="c2", turn_idx=i, text=f"u{i}") for i in range(50)]
    spark.createDataFrame(rows1, SCHEMA).coalesce(1) \
        .write.parquet(os.path.join(srcdir, "f1"))
    spark.createDataFrame(rows2, SCHEMA).coalesce(1) \
        .write.parquet(os.path.join(srcdir, "f2"))
    path = str(td / "out")
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", "1").parquet(srcdir + "/*"))
    q = (stream.writeStream.format("oroch")
         .option("path", path)
         .option("key_cols", "conv_id,turn_idx")
         .option("text_cols", "text")
         .option("checkpointLocation", str(td / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return path


def test_per_batch_manifests(sink):
    mans = sorted(m for m in
                  glob.glob(os.path.join(sink, "_batches", "*.json"))
                  if os.path.basename(m) not in (ds._VERSION_FILE,
                                                 ds._TXN_FILE))
    assert [os.path.basename(m) for m in mans] == ["0.json", "1.json"]
    # the version pointer names exactly the committed manifests
    assert [os.path.basename(m)
            for m in ds._manifest_paths(sink)] == ["0.json", "1.json"]
    for m in mans:
        with open(m) as f:
            doc = json.load(f)
        assert doc["files"] and doc["blocks"] > 0
        for fn in doc["files"]:
            assert os.path.exists(os.path.join(sink, fn))


def test_committed_view_and_batch_ids(spark, sink):
    blocks = ds.stream_sink_blocks(spark, sink)
    ids = sorted(r[0] for r in blocks.select("batch_id")
                 .distinct().collect())
    assert ids == [0, 1]
    # append-only: the re-sent key appears once per batch
    assert engine.decode_df(blocks, KINDS).count() == 151


def test_latest_wins_read(spark, sink):
    keys = ["conv_id", "turn_idx"]
    latest = engine.latest_df(
        spark, [(os.path.join(sink, f), b)
                for f, b in ds._sink_manifest_files(sink)], KINDS, keys)
    assert latest.count() == 150
    got = latest.filter("conv_id = 'c1' AND turn_idx = 0").collect()
    assert [r["text"] for r in got] == ["UPDATED"]
    # every row, and the batch it won from, as the brute-force model
    cols = keys + ["text"]
    assert sorted_rows(latest.select(*cols, "_batch_id").collect()) == \
        sorted_rows([*(row[c] for c in cols), b] for b, row
                    in latest_model(spark, sink, KINDS, keys).values())


def test_orphan_files_invisible(spark, sink):
    """A stray file (failed attempt) is not part of the committed view
    and is swept by the next commit's reconciliation (here: just
    invisible to the manifest-driven reader)."""
    import shutil

    some = glob.glob(os.path.join(sink, "stream-*.parquet"))[0]
    orphan = os.path.join(sink, "stream-99999-deadbeef.parquet")
    shutil.copy(some, orphan)
    try:
        blocks = ds.stream_sink_blocks(spark, sink)
        assert engine.decode_df(blocks, KINDS).count() == 151
    finally:
        os.remove(orphan)


def test_batch_reader_reads_sink(spark, sink):
    back = spark.read.format("oroch").load(sink)
    assert back.count() == 151
    assert set(back.columns) == {"conv_id", "turn_idx", "text"}


def test_stream_reader_decodes_committed_batches(spark, sink, tmp_path):
    """readStream.format("oroch") over the sink: decoded rows of every
    committed batch, exactly once across restarts (offsets = batch
    manifests; the stream checkpoint carries the consumed range)."""
    outdir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def drain():
        q = (spark.readStream.format("oroch").load(sink)
             .writeStream.format("parquet").option("path", outdir)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    drain()
    df = spark.read.parquet(outdir)
    assert df.count() == 151  # append-only view of both batches
    assert set(df.columns) == {"conv_id", "turn_idx", "text"}
    assert df.filter("conv_id = 'c2' AND turn_idx = 7") \
        .collect()[0]["text"] == "u7"
    # a re-drain with the same checkpoint processes NOTHING new
    drain()
    assert spark.read.parquet(outdir).count() == 151


def test_as_of_batch_time_travel(spark, sink):
    blocks0 = ds.stream_sink_blocks(spark, sink, as_of_batch=0)
    assert engine.decode_df(blocks0, KINDS).count() == 100  # batch 0 only


def test_compact_sink(spark, tmp_path):
    """Compaction folds all batches into one manifest carrying the top
    batch id; the latest-wins view is identical before/after, and both
    the batch reader and a fresh stream drain see the compacted data
    exactly once."""
    import glob as g

    srcdir = str(tmp_path / "in")
    os.makedirs(srcdir)
    sink2 = str(tmp_path / "sink2")
    rows1 = [Row(conv_id="c1", turn_idx=i, text=f"t{i}")
             for i in range(100)]
    rows2 = [Row(conv_id="c1", turn_idx=0, text="UPDATED")] + \
        [Row(conv_id="c2", turn_idx=i, text=f"u{i}") for i in range(50)]
    spark.createDataFrame(rows1, SCHEMA).coalesce(1) \
        .write.parquet(os.path.join(srcdir, "f1"))
    spark.createDataFrame(rows2, SCHEMA).coalesce(1) \
        .write.parquet(os.path.join(srcdir, "f2"))
    q = (spark.readStream.schema(SCHEMA)
         .option("maxFilesPerTrigger", "1").parquet(srcdir + "/*")
         .writeStream.format("oroch").option("path", sink2)
         .option("key_cols", "conv_id,turn_idx")
         .option("text_cols", "text")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    keys = ["conv_id", "turn_idx"]
    before = latest_model(spark, sink2, KINDS, keys)
    man = ds.compact_sink(spark, sink2, n_buckets=2, block_rows=64)
    assert man["batch_id"] == 1 and man["compacted"]
    mans = ds._manifest_paths(sink2)
    assert len(mans) == 1
    with open(mans[0]) as f:
        assert json.load(f)["batch_id"] == 1
    # superseded manifests are gone from disk too
    on_disk = [m for m in g.glob(os.path.join(sink2, "_batches",
                                              "*.json"))
               if os.path.basename(m) not in (ds._VERSION_FILE,
                                              ds._TXN_FILE)]
    assert sorted(on_disk) == sorted(mans)
    after = latest_model(spark, sink2, KINDS, keys)
    cols = keys + ["text"]
    assert model_rows(before, cols) == model_rows(after, cols)
    assert spark.read.format("oroch").load(sink2).count() == 150
    assert after[("c1", 0)][1]["text"] == "UPDATED"


# ---------------------------------------------------------------------------
# round 4: declarative sink reads — committed view, latest_wins,
# as_of_batch, tombstones — through bare spark.read.format("oroch")
# ---------------------------------------------------------------------------

def test_bare_read_is_committed_view(spark, sink):
    back = spark.read.format("oroch").load(sink)
    assert back.count() == 151  # append-only committed view
    blocks = ds.stream_sink_blocks(spark, sink)
    exp = engine.decode_df(blocks, KINDS)
    key = ["conv_id", "turn_idx", "text"]
    assert sorted(map(tuple, back.select(*key).collect())) == \
        sorted(map(tuple, exp.select(*key).collect()))


def test_latest_wins_option(spark, sink):
    # NOTE: loaded fresh per query — Spark's Python-DataSource scan
    # cache replays a FILTERED plan for later unfiltered queries on
    # the same loaded DataFrame (upstream; see datasource.register)
    load = lambda: (spark.read.format("oroch")
                    .option("latest_wins", "true")
                    .option("key_cols", "conv_id,turn_idx").load(sink))
    assert load().count() == 150
    got = load().filter("conv_id = 'c1' AND turn_idx = 0").collect()
    assert [r["text"] for r in got] == ["UPDATED"]
    # matches the brute-force model exactly
    cols = ["conv_id", "turn_idx", "text"]
    exp = latest_model(spark, sink, KINDS, ["conv_id", "turn_idx"])
    assert sorted_rows(load().select(*cols).collect()) == \
        model_rows(exp, cols)


def test_latest_wins_filter_never_resurrects_stale(spark, sink):
    """A filter matching only the SHADOWED version of a key must
    return nothing — filters apply on the merged view (none are
    pushed below the resolution)."""
    back = (spark.read.format("oroch")
            .option("latest_wins", "true")
            .option("key_cols", "conv_id,turn_idx").load(sink))
    assert back.filter(
        "conv_id = 'c1' AND turn_idx = 0 AND text = 't0'").count() == 0
    assert back.filter("text = 'UPDATED'").count() == 1


def test_as_of_batch_time_travel(spark, sink):
    b0 = (spark.read.format("oroch")
          .option("as_of_batch", "0").load(sink))
    assert b0.count() == 100
    lw0 = (spark.read.format("oroch")
           .option("latest_wins", "true").option("as_of_batch", "0")
           .option("key_cols", "conv_id,turn_idx").load(sink))
    got = lw0.filter("conv_id = 'c1' AND turn_idx = 0").collect()
    assert [r["text"] for r in got] == ["t0"]


def test_latest_wins_on_batch_table_raises(spark, tmp_path):
    path = str(tmp_path / "plainbatch")
    spark.range(10).withColumnRenamed("id", "k") \
        .write.format("oroch").mode("overwrite") \
        .option("key_cols", "k").save(path)
    with pytest.raises(Exception, match="latest_wins|manifest"):
        spark.read.format("oroch").option("latest_wins", "true") \
            .load(path).count()


def test_latest_wins_key_cols_option(spark, sink):
    """key_cols read option is optional — defaults to the sidecar's
    key columns."""
    back = (spark.read.format("oroch")
            .option("latest_wins", "true").load(sink))
    assert back.count() == 150


@pytest.fixture(scope="module")
def tomb_sink(spark, tmp_path_factory):
    ds.register(spark)
    td = tmp_path_factory.mktemp("tombsink")
    srcdir = str(td / "in")
    os.makedirs(srcdir)
    schema = "k long, v string, deleted boolean"
    rows1 = [Row(k=i, v=f"v{i}", deleted=False) for i in range(20)]
    rows2 = [Row(k=3, v="", deleted=True),
             Row(k=5, v="v5b", deleted=False)]
    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.parquet(os.path.join(srcdir, "f1"))
    spark.createDataFrame(rows2, schema).coalesce(1) \
        .write.parquet(os.path.join(srcdir, "f2"))
    path = str(td / "out")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(srcdir + "/*"))
    q = (stream.writeStream.format("oroch")
         .option("path", path).option("key_cols", "k")
         .option("checkpointLocation", str(td / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return path


def test_latest_wins_tombstones(spark, tomb_sink):
    back = (spark.read.format("oroch")
            .option("latest_wins", "true")
            .option("tombstone_col", "deleted").load(tomb_sink))
    assert "deleted" not in back.columns
    rows = {r.k: r.v for r in back.collect()}
    assert 3 not in rows            # tombstoned key disappears
    assert rows[5] == "v5b"         # upsert wins
    assert len(rows) == 19


def test_compaction_publish_is_atomic_version_swap(spark, tmp_path):
    """Round 4: readers resolve manifests through _VERSION.json, so a
    reader racing compaction sees either the complete old set or the
    complete new set — simulate the race by snapshotting the resolved
    manifest set at every intermediate on-disk state the compactor
    creates (old manifests present + compacted manifest present) and
    checking each resolves to a consistent total row count."""
    srcdir = str(tmp_path / "in")
    os.makedirs(srcdir)
    sink3 = str(tmp_path / "sink3")
    for j, lo in enumerate((0, 40, 80)):
        rows = [Row(conv_id=f"c{i}", turn_idx=0, text=f"t{i}")
                for i in range(lo, lo + 40)]
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.parquet(os.path.join(srcdir, f"f{j}"))
    q = (spark.readStream.schema(SCHEMA)
         .option("maxFilesPerTrigger", "1").parquet(srcdir + "/*")
         .writeStream.format("oroch").option("path", sink3)
         .option("key_cols", "conv_id,turn_idx")
         .option("checkpointLocation", str(tmp_path / "ck3"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    def committed_rows():
        return engine.decode_df(
            ds.stream_sink_blocks(spark, sink3), KINDS).count()

    assert committed_rows() == 120
    # mid-compaction state: write an extra (not-yet-published)
    # compacted manifest by hand — readers must IGNORE it because the
    # version pointer doesn't name it
    bdir = os.path.join(sink3, "_batches")
    with open(os.path.join(bdir, "compact-9-fake.json"), "w") as f:
        json.dump({"batch_id": 9, "files": []}, f)
    assert committed_rows() == 120  # unpublished manifest invisible
    os.remove(os.path.join(bdir, "compact-9-fake.json"))
    ds.compact_sink(spark, sink3, n_buckets=1, block_rows=64)
    assert committed_rows() == 120  # same rows after the swap


def test_compact_retain_from_batch(spark, tmp_path):
    """retain_from_batch folds only older batches; a stream reader
    whose offset is past the retain point re-delivers nothing."""
    srcdir = str(tmp_path / "in")
    os.makedirs(srcdir)
    sinkr = str(tmp_path / "sinkr")
    for j, lo in enumerate((0, 40, 80)):
        rows = [Row(conv_id=f"c{i}", turn_idx=0, text=f"t{i}")
                for i in range(lo, lo + 40)]
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.parquet(os.path.join(srcdir, f"f{j}"))
    q = (spark.readStream.schema(SCHEMA)
         .option("maxFilesPerTrigger", "1").parquet(srcdir + "/*")
         .writeStream.format("oroch").option("path", sinkr)
         .option("key_cols", "conv_id,turn_idx")
         .option("checkpointLocation", str(tmp_path / "ckr"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    man = ds.compact_sink(spark, sinkr, n_buckets=1, block_rows=64,
                          retain_from_batch=2)
    assert man["batch_id"] == 1          # folded batches 0..1
    mans = ds._manifest_paths(sinkr)
    ids = set()
    for m in mans:
        with open(m) as f:
            ids.add(json.load(f)["batch_id"])
    assert ids == {1, 2}                 # compacted + retained
    # full table unchanged
    assert engine.decode_df(ds.stream_sink_blocks(spark, sinkr),
                            KINDS).count() == 120
    # a reader already past batch 2 sees nothing new below it: the
    # streaming source's partitions for [2, 3) are batch 2's original
    # files, untouched by the fold
    rdr = ds.OrochStreamReader({"path": sinkr}, KINDS)
    parts = rdr.partitions({"batch": 2}, {"batch": 3})
    rows = sum(b.num_rows for p in parts for b in rdr.read(p))
    assert rows == 40
    # folding everything below an existing reader twice is rejected
    with pytest.raises(Exception, match="nothing to compact"):
        ds.compact_sink(spark, sinkr, retain_from_batch=0)


def test_latest_wins_key_filter_pushdown(spark, sink):
    """Key-column filters DO push below the merge (safe: the key
    decides group membership) — a point lookup on an upserted key
    returns only its newest version, with the filter absorbed and
    row-groups pruned."""
    back = (spark.read.format("oroch")
            .option("latest_wins", "true").load(sink))
    got = back.filter((F.col("conv_id") == "c1")
                      & (F.col("turn_idx") == 0))
    rows = got.collect()
    assert len(rows) == 1 and rows[0]["text"] == "UPDATED"
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "c1" not in plan  # the key equality is absorbed
    # unit level: the key predicate prunes merge partitions
    import pyspark.sql.functions as _F  # noqa: F401
    doc = ds.read_sidecar(sink)
    full = ds.OrochReader({"path": sink, "latest_wins": "true"},
                          doc["kinds"], doc["key_cols"])
    n_all = len(full.partitions())
    sel = ds.OrochReader({"path": sink, "latest_wins": "true"},
                         doc["kinds"], doc["key_cols"])
    residual = list(sel.pushFilters(
        [ds.EqualTo(("conv_id",), "zzz-no-such"),
         ds.EqualTo(("text",), "t0")]))
    # non-key filter comes back; key filter absorbed
    assert len(residual) == 1 and residual[0].attribute == ("text",)
    parts = sel.partitions()  # one planning per pushFilters
    assert len(parts) < max(n_all, 2)
    total = sum(b.num_rows for p in parts for b in sel.read(p))
    assert total == 0


def test_latest_wins_all_pruned_key_predicate(spark, sink):
    """A key predicate beyond every row group's bounds prunes all
    merge intervals; the planner must return an empty-scan sentinel
    (not an empty plan, which makes Spark call read(None))."""
    back = (spark.read.format("oroch")
            .option("latest_wins", "true")
            .option("key_cols", "conv_id,turn_idx").load(sink))
    assert back.filter("conv_id = '￿ nosuch'").count() == 0


def test_new_epoch_never_clobbers_drifted_batch_manifest(spark, tmp_path):
    """Epoch/bid drift regression: once DML interleaves, epoch numbers
    and batch ids diverge, so a NEW epoch whose number equals an
    earlier epoch's drifted batch id must NOT be mistaken for a
    pre-ledger replay of that manifest (which would rewrite it in
    place and silently drop the earlier batch's rows)."""
    from oroch_spark.sources import dml

    ds.register(spark)
    srcdir = str(tmp_path / "in")
    os.makedirs(srcdir)
    path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def land(fname, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.parquet(os.path.join(srcdir, fname))

    def run_stream():
        q = (spark.readStream.schema(SCHEMA).parquet(srcdir + "/*")
             .writeStream.format("oroch").option("path", path)
             .option("key_cols", "conv_id,turn_idx")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(180)

    # epoch 0 -> bid 0
    land("f0", [Row(conv_id="a", turn_idx=0, text="e0")])
    run_stream()
    # DML takes bid 1
    dml.upsert(spark, path, spark.createDataFrame(
        [Row(conv_id="a", turn_idx=0, text="dml")], SCHEMA))
    # epoch 1 -> drifts to bid 2 (writes 2.json)
    land("f1", [Row(conv_id="b", turn_idx=0, text="e1")])
    run_stream()
    # epoch 2: its number matches epoch 1's bid — must allocate bid 3,
    # not rewrite 2.json
    land("f2", [Row(conv_id="c", turn_idx=0, text="e2")])
    run_stream()

    manifests = {}
    for mf in ds._manifest_paths(path):
        with open(mf) as f:
            manifests[os.path.basename(mf)] = json.load(f)
    assert set(manifests) >= {"0.json", "2.json", "3.json"}
    # epoch 1's batch survived intact and epoch 2 got its own manifest
    assert manifests["2.json"]["epoch"] == 1
    assert manifests["3.json"]["epoch"] == 2
    got = {r["conv_id"]: r["text"]
           for r in (spark.read.format("oroch")
                     .option("latest_wins", "true").load(path).collect())}
    assert got == {"a": "dml", "b": "e1", "c": "e2"}


def test_restored_checkpoint_replay_rewrites_drifted_manifest(spark, tmp_path):
    """A replayed epoch whose _TXN ledger entry was pruned (checkpoint
    restored from a backup older than the pruning slack) must find its
    manifest by RECORDED epoch and rewrite it exactly-once — not
    double-commit its rows under a fresh batch id."""
    from oroch_spark.sources import dml

    ds.register(spark)
    srcdir = str(tmp_path / "in")
    os.makedirs(srcdir)
    path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def land(fname, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.parquet(os.path.join(srcdir, fname))

    def run_stream():
        q = (spark.readStream.schema(SCHEMA).parquet(srcdir + "/*")
             .writeStream.format("oroch").option("path", path)
             .option("key_cols", "conv_id,turn_idx")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(180)

    land("f0", [Row(conv_id="a", turn_idx=0, text="e0")])
    run_stream()                                   # epoch 0 -> bid 0
    dml.upsert(spark, path, spark.createDataFrame(
        [Row(conv_id="a", turn_idx=0, text="dml")], SCHEMA))  # bid 1
    land("f1", [Row(conv_id="b", turn_idx=0, text="e1")])
    run_stream()                                   # epoch 1 -> bid 2
    land("f2", [Row(conv_id="c", turn_idx=0, text="e2")])
    run_stream()                                   # epoch 2 -> bid 3

    # simulate the restore: epoch 1's ledger entry pruned, newer
    # epochs still in the ledger, then epoch 1 replays directly
    # through the writer's commit (single-writer: no live stream now)
    txn = ds._read_txn(path)
    assert txn.get("1") == 2 and any(int(e) > 1 for e in txn)
    del txn["1"]
    ds._write_txn(path, txn)
    doc = ds.read_sidecar(path)
    writer = ds.OrochStreamWriter({"path": path,
                                   "key_cols": "conv_id,turn_idx"},
                                  doc["kinds"])
    import pyarrow as pa
    batch = pa.RecordBatch.from_pydict(
        {"conv_id": ["b"], "turn_idx": pa.array([0], type=pa.int32()),
         "text": ["e1-replayed"]})
    msg = writer.write(iter([batch]))
    writer.commit([msg], batchId=1)

    manifests = {}
    for mf in ds._manifest_paths(path):
        with open(mf) as f:
            manifests[os.path.basename(mf)] = json.load(f)
    # exactly-once: the replay rewrote 2.json (epoch 1's original id);
    # no 4.json double-commit appeared
    assert "4.json" not in manifests
    assert manifests["2.json"]["epoch"] == 1
    assert manifests["2.json"]["files"] == [msg.file]
    rows = (spark.read.format("oroch")
            .option("latest_wins", "true").load(path).collect())
    got = {r["conv_id"]: r["text"] for r in rows}
    assert got == {"a": "dml", "b": "e1-replayed", "c": "e2"}


def test_compact_sink_tombstone_col_on_never_deleted_table(spark, sink):
    """compact_sink configured uniformly with a tombstone_col must work
    on a sink nothing was ever deleted from (the column does not exist
    until the first delete_where)."""
    import shutil

    path = sink + "-compactcopy"
    shutil.copytree(sink, path)
    res = ds.compact_sink(spark, path, latest_wins=True,
                          tombstone_col="deleted", n_buckets=2)
    assert res["files"]
    back = spark.read.format("oroch").load(path)
    assert back.count() > 0
    assert "deleted" not in back.columns


def test_latest_wins_concurrent_tombstone_birth_is_loud(spark, tomb_sink):
    """If the reader's pinned schema predates a concurrent
    delete_where (stale kinds without the tombstone column) while the
    on-disk sidecar already has it, the reader must raise a retry
    error — never surface deleted keys as rows of NULLs."""
    doc = ds.read_sidecar(tomb_sink)
    stale_kinds = [kv for kv in doc["kinds"] if kv[0] != "deleted"]
    with pytest.raises(ValueError, match="retry the read"):
        ds.OrochReader({"path": tomb_sink, "latest_wins": "true",
                        "tombstone_col": "deleted"},
                       stale_kinds, doc["key_cols"])
