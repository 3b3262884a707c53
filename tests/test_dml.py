"""Batch DML over streaming-sink tables (sources/dml.py): upsert,
delete_where, vacuum, and compact_sink(gc=False) deferred GC."""
import json
import os
import time

import pytest
from pyspark.sql import Row

from oroch_spark import engine
from oroch_spark.sources import datasource as ds
from oroch_spark.sources import dml

from latest_model import latest_model, model_rows, sorted_rows


SCHEMA = "k long, v string, score long"


def _mk_sink(spark, td, rows_batches, block_rows=65536):
    """Build a sink via the real writeStream path, one source file per
    micro-batch (maxFilesPerTrigger=1 => one committed batch each)."""
    ds.register(spark)
    srcdir = str(td / "in")
    os.makedirs(srcdir)
    for i, rows in enumerate(rows_batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.parquet(os.path.join(srcdir, f"f{i}"))
    path = str(td / "out")
    q = (spark.readStream.schema(SCHEMA)
         .option("maxFilesPerTrigger", "1").parquet(srcdir + "/*")
         .writeStream.format("oroch")
         .option("path", path).option("key_cols", "k")
         .option("block_rows", str(block_rows))
         .option("checkpointLocation", str(td / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return path


@pytest.fixture()
def sink(spark, tmp_path):
    return _mk_sink(spark, tmp_path, [
        [Row(k=i, v=f"v{i}", score=i * 10) for i in range(20)],
        [Row(k=5, v="v5b", score=55)],
    ])


def _latest(spark, path, tomb=None):
    r = spark.read.format("oroch").option("latest_wins", "true")
    if tomb:
        r = r.option("tombstone_col", tomb)
    return {row.k: row for row in r.load(path).collect()}


def test_upsert_wins_and_appends(spark, sink):
    man = dml.upsert(spark, sink, spark.createDataFrame(
        [Row(k=5, v="v5c", score=555), Row(k=100, v="new", score=1)],
        SCHEMA))
    assert man["dml"] == "upsert" and man["files"]
    rows = _latest(spark, sink)
    assert rows[5].v == "v5c" and rows[5].score == 555
    assert rows[100].v == "new"
    assert len(rows) == 21
    # plain (non-latest) read keeps every version: 20 + 1 + 2 rows
    assert spark.read.format("oroch").load(sink).count() == 23
    # batch id is max + 1 -> a stream reader past the old top still
    # sees the DML batch as new
    ids = dml._batch_ids(sink)
    assert man["batch_id"] == max(ids) and sorted(ids) == ids == [0, 1, 2]


def test_upsert_rejects_partial_rows(spark, sink):
    with pytest.raises(ValueError, match="missing table columns"):
        dml.upsert(spark, sink,
                   spark.createDataFrame([Row(k=5, v="x")], "k long, v string"))
    # unknown columns would be lost silently -> loud error instead
    with pytest.raises(ValueError, match="columns \\['bonus'\\]"):
        dml.upsert(spark, sink, spark.createDataFrame(
            [Row(k=5, v="x", score=1, bonus=2)],
            SCHEMA + ", bonus long"))


def test_delete_where_evolves_schema_and_deletes(spark, sink):
    man = dml.delete_where(spark, sink, "score >= 150",
                           tombstone_col="deleted")
    assert man["n_deleted"] == 5        # k=15..19
    rows = _latest(spark, sink, tomb="deleted")
    assert set(rows) == set(range(15)) | {5} - set()
    assert len(rows) == 15
    # the tombstone column joined the table schema (evolution)
    kinds = dict(ds.read_sidecar(sink)["kinds"])
    assert kinds["deleted"] == "bool"
    # predicate over the LIVE view: already-deleted keys do not
    # re-match, a second identical delete is a no-op
    man2 = dml.delete_where(spark, sink, "score >= 150",
                            tombstone_col="deleted")
    assert man2["n_deleted"] == 0 and man2["batch_id"] is None


def test_delete_then_upsert_resurrects(spark, sink):
    dml.delete_where(spark, sink, "k = 7", tombstone_col="deleted")
    assert 7 not in _latest(spark, sink, tomb="deleted")
    dml.upsert(spark, sink, spark.createDataFrame(
        [Row(k=7, v="back", score=77)], SCHEMA),
        tombstone_col="deleted")
    rows = _latest(spark, sink, tomb="deleted")
    assert rows[7].v == "back"


def test_delete_where_predicate_on_text(spark, sink):
    man = dml.delete_where(spark, sink, "v LIKE 'v1%'",
                           tombstone_col="deleted")
    # v1, v10..v19 -> 11 keys
    assert man["n_deleted"] == 11
    rows = _latest(spark, sink, tomb="deleted")
    assert 1 not in rows and 12 not in rows and 2 in rows


def test_compact_resolves_dml(spark, sink):
    dml.upsert(spark, sink, spark.createDataFrame(
        [Row(k=0, v="v0b", score=1)], SCHEMA))
    dml.delete_where(spark, sink, "k = 3", tombstone_col="deleted")
    ds.compact_sink(spark, sink, n_buckets=2,
                    tombstone_col="deleted")
    rows = _latest(spark, sink)
    assert rows[0].v == "v0b" and 3 not in rows and len(rows) == 19
    # compaction dropped the tombstone column from the schema
    assert "deleted" not in dict(ds.read_sidecar(sink)["kinds"])


def test_vacuum_removes_only_dead_and_old(spark, sink):
    # a crashed task's leftover: unreferenced and old
    dead = os.path.join(sink, "stream-deadbeef.parquet")
    with open(dead, "wb") as f:
        f.write(b"junk")
    os.utime(dead, (time.time() - 7200, time.time() - 7200))
    # a concurrent writer's fresh unpublished part: unreferenced, NEW
    fresh = os.path.join(sink, "stream-fresh.parquet")
    with open(fresh, "wb") as f:
        f.write(b"junk")
    # dry run lists, removes nothing
    rep = dml.vacuum(sink, older_than_s=3600, dry_run=True)
    assert rep["removed"] == ["stream-deadbeef.parquet"]
    assert os.path.exists(dead)
    # a crashed compaction's staging directory: old -> reclaimed
    stale_dir = os.path.join(sink, ".compact-deadbeef")
    os.makedirs(stale_dir)
    with open(os.path.join(stale_dir, "x.parquet"), "wb") as f:
        f.write(b"junk")
    # age the WHOLE tree: vacuum keys on the newest entry within, so
    # an old dir with a fresh task file (= a live long-running job)
    # is spared
    os.utime(os.path.join(stale_dir, "x.parquet"),
             (time.time() - 7200,) * 2)
    os.utime(stale_dir, (time.time() - 7200,) * 2)
    # a LIVE job's staging dir: old dir mtime, fresh file inside
    live_dir = os.path.join(sink, ".dml-livejob")
    os.makedirs(live_dir)
    with open(os.path.join(live_dir, "part.parquet"), "wb") as f:
        f.write(b"junk")
    os.utime(live_dir, (time.time() - 7200,) * 2)
    rep = dml.vacuum(sink, older_than_s=3600)
    assert rep["removed"] == [".compact-deadbeef/",
                              "stream-deadbeef.parquet"]
    assert not os.path.exists(dead) and os.path.exists(fresh)
    assert not os.path.exists(stale_dir)
    assert os.path.exists(live_dir)  # fresh inner file spared it
    import shutil as _sh
    _sh.rmtree(live_dir)
    # table reads unaffected
    assert spark.read.format("oroch").load(sink).count() == 21


def test_compact_gc_false_defers_to_vacuum(spark, sink):
    before = set(os.listdir(sink))
    ds.compact_sink(spark, sink, n_buckets=2, gc=False)
    after = set(os.listdir(sink))
    # folded batch files still on disk (deferred GC)...
    assert before - {"_batches"} <= after
    # ...but invisible: the version pointer holds ONE compacted manifest
    mans = ds._manifest_paths(sink)
    assert len(mans) == 1 and "compact" in os.path.basename(mans[0])
    assert len(_latest(spark, sink)) == 20
    # vacuum with zero grace reclaims the folded files + manifests
    rep = dml.vacuum(sink, older_than_s=0)
    assert any(r.startswith("stream-") for r in rep["removed"])
    assert any(r.startswith("_batches/") for r in rep["removed"])
    assert len(_latest(spark, sink)) == 20
    # every remaining parquet is referenced by the live manifest
    with open(mans[0]) as f:
        live = set(json.load(f)["files"])
    on_disk = {f for f in os.listdir(sink) if f.endswith(".parquet")}
    assert on_disk == live


def test_table_changes_insert_update_delete(spark, sink):
    # sink: batch 0 = k0..k19, batch 1 = upsert k5
    dml.upsert(spark, sink, spark.createDataFrame(
        [Row(k=200, v="fresh", score=1), Row(k=7, v="v7b", score=71)],
        SCHEMA))                                      # batch 2
    dml.delete_where(spark, sink, "k = 9",
                     tombstone_col="deleted")         # batch 3
    ch = {r.k: r for r in dml.table_changes(
        spark, sink, from_batch=1, tombstone_col="deleted").collect()}
    assert set(ch) == {200, 7, 9}
    assert ch[200]._change_type == "insert" and ch[200]._commit_batch == 2
    assert ch[7]._change_type == "update_postimage" and ch[7].v == "v7b"
    assert ch[9]._change_type == "delete" and ch[9].v is None
    assert "_existed" not in ch[7].asDict() \
        and "deleted" not in ch[7].asDict()
    # from the beginning (empty base): every surviving key is an
    # insert; k9's tombstone is a delete of a key the empty base never
    # held, so it drops out of the feed entirely
    ch0 = {r.k: r._change_type for r in dml.table_changes(
        spark, sink, from_batch=-1, tombstone_col="deleted").collect()}
    assert ch0[5] == "insert" and ch0[200] == "insert"
    assert 9 not in ch0
    # k0..k19 minus deleted k9, plus k200 -> 20 inserts
    assert set(ch0.values()) == {"insert"} and len(ch0) == 20


def test_table_changes_latest_within_range_wins(spark, sink):
    dml.upsert(spark, sink, spark.createDataFrame(
        [Row(k=5, v="v5c", score=1)], SCHEMA))        # batch 2
    dml.upsert(spark, sink, spark.createDataFrame(
        [Row(k=5, v="v5d", score=2)], SCHEMA))        # batch 3
    ch = {r.k: r for r in dml.table_changes(
        spark, sink, from_batch=0).collect()}
    # batches (0, 3]: k5 changed three times; feed shows the newest
    assert ch[5].v == "v5d" and ch[5]._commit_batch == 3
    assert ch[5]._change_type == "update_postimage"
    with pytest.raises(ValueError, match="empty change range"):
        dml.table_changes(spark, sink, from_batch=3)


def test_vacuum_batch_table_registry(spark, tmp_path):
    ds.register(spark)
    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [Row(k=i, v=f"v{i}", score=i) for i in range(10)], SCHEMA) \
        .write.format("oroch").mode("overwrite").option("key_cols", "k").save(path)
    dead = os.path.join(path, "part-dead.parquet")
    with open(dead, "wb") as f:
        f.write(b"junk")
    os.utime(dead, (time.time() - 7200,) * 2)
    rep = dml.vacuum(path, older_than_s=3600)
    assert rep["removed"] == ["part-dead.parquet"]
    assert spark.read.format("oroch").load(path).count() == 10


def test_cli_dml_verbs(spark, sink, tmp_path, capsys):
    import argparse

    import cli

    def ns(**kw):
        return argparse.Namespace(master=None, spark=spark, cmd=None,
                                  **kw)

    src = str(tmp_path / "ups")
    spark.createDataFrame([Row(k=0, v="v0b", score=5)], SCHEMA) \
        .write.parquet(src)
    a = ns(src=src, out=sink, tombstone=None)
    a.cmd = "upsert"
    cli.cmd_dml(a)
    assert json.loads(capsys.readouterr().out)["dml"] == "upsert"

    a = ns(out=sink, where="k = 2", tombstone=None)
    a.cmd = "delete-where"
    cli.cmd_dml(a)
    assert json.loads(capsys.readouterr().out)["n_deleted"] == 1

    a = ns(out=sink, from_batch=1, to_batch=None, tombstone="deleted",
           dest=None, limit=100)
    a.cmd = "changes"
    cli.cmd_dml(a)
    feed = [json.loads(x)
            for x in capsys.readouterr().out.strip().splitlines()]
    types = {r["k"]: r["_change_type"] for r in feed}
    assert types == {0: "update_postimage", 2: "delete"}

    a = ns(out=sink, older_than=3600.0, dry_run=True)
    a.cmd = "vacuum"
    cli.cmd_dml(a)
    assert json.loads(capsys.readouterr().out)["dry_run"] is True

    a = ns(out=sink, buckets=2, tombstone="deleted", retain_from=None,
           no_gc=False)
    a.cmd = "compact"
    cli.cmd_dml(a)
    assert json.loads(capsys.readouterr().out)["compacted"] is True
    rows = _latest(spark, sink)
    assert rows[0].v == "v0b" and 2 not in rows and len(rows) == 19


def test_table_changes_preimages(spark, sink):
    dml.upsert(spark, sink, spark.createDataFrame(
        [Row(k=7, v="v7b", score=71)], SCHEMA))       # batch 2
    dml.delete_where(spark, sink, "k = 9",
                     tombstone_col="deleted")         # batch 3
    ch = dml.table_changes(spark, sink, from_batch=1,
                           tombstone_col="deleted",
                           include_preimage=True).collect()
    by = {(r.k, r._change_type): r for r in ch}
    assert set(by) == {(7, "update_postimage"), (7, "update_preimage"),
                       (9, "delete"), (9, "delete_preimage")}
    # pre-images carry the as-of-from values, post the new ones,
    # both stamped with the committing batch
    assert by[(7, "update_preimage")].v == "v7"
    assert by[(7, "update_postimage")].v == "v7b"
    assert by[(7, "update_preimage")]._commit_batch == 2
    assert by[(9, "delete_preimage")].v == "v9"
    assert by[(9, "delete_preimage")]._commit_batch == 3
    # inserts have no pre-image; default stays post-only
    post_only = dml.table_changes(spark, sink, from_batch=1,
                                  tombstone_col="deleted").collect()
    assert {r._change_type for r in post_only} == \
        {"update_postimage", "delete"}


def test_dml_composite_string_keys(spark, tmp_path):
    """Transcript-shaped sink: composite (string, int) key through
    upsert / delete_where / table_changes / compaction."""
    ds.register(spark)
    schema = "conv_id string, turn_idx int, text string"
    srcdir = str(tmp_path / "in")
    os.makedirs(srcdir)
    rows = [Row(conv_id=f"c{i:03d}", turn_idx=t, text=f"t{i}.{t}")
            for i in range(6) for t in range(4)]
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.parquet(os.path.join(srcdir, "f0"))
    path = str(tmp_path / "out")
    q = (spark.readStream.schema(schema)
         .parquet(srcdir + "/*")
         .writeStream.format("oroch")
         .option("path", path).option("key_cols", "conv_id,turn_idx")
         .option("text_cols", "text")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    dml.upsert(spark, path, spark.createDataFrame(
        [Row(conv_id="c002", turn_idx=1, text="EDITED")], schema))
    man = dml.delete_where(spark, path, "conv_id = 'c004'")
    assert man["n_deleted"] == 4
    lat = (spark.read.format("oroch").option("latest_wins", "true")
           .option("tombstone_col", "deleted").load(path))
    got = {(r.conv_id, r.turn_idx): r.text for r in lat.collect()}
    assert got[("c002", 1)] == "EDITED"
    assert len(got) == 20 and not any(c == "c004" for c, _ in got)
    ch = {(r.conv_id, r.turn_idx, r._change_type)
          for r in dml.table_changes(
              spark, path, from_batch=0,
              tombstone_col="deleted").collect()}
    assert ("c002", 1, "update_postimage") in ch
    assert sum(1 for c, t, ty in ch if ty == "delete") == 4
    ds.compact_sink(spark, path, n_buckets=2, tombstone_col="deleted")
    lat2 = (spark.read.format("oroch").option("latest_wins", "true")
            .load(path))
    assert {(r.conv_id, r.turn_idx): r.text
            for r in lat2.collect()} == got


def test_resumed_stream_never_collides_with_dml_batch(spark, tmp_path):
    """The r4 ledger fix: a writeStream resumed AFTER a dml.upsert must
    not reuse the upsert's table batch id (its checkpoint epoch counter
    knows nothing about DML) — latest-wins would tie arbitrarily."""
    ds.register(spark)
    srcdir = str(tmp_path / "in")
    os.makedirs(srcdir)
    spark.createDataFrame(
        [Row(k=i, v=f"v{i}", score=i) for i in range(10)], SCHEMA) \
        .coalesce(1).write.parquet(os.path.join(srcdir, "f0"))
    path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        q = (spark.readStream.schema(SCHEMA)
             .option("maxFilesPerTrigger", "1").parquet(srcdir + "/*")
             .writeStream.format("oroch")
             .option("path", path).option("key_cols", "k")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run_stream()                      # epoch 0 -> table batch 0
    dml.upsert(spark, path, spark.createDataFrame(
        [Row(k=3, v="dml", score=333)], SCHEMA))   # table batch 1
    dml.delete_where(spark, path, "k = 8")         # table batch 2
    # resume the SAME checkpoint with a new source file: epoch 1 must
    # become table batch 3, not collide with the DML batches
    spark.createDataFrame([Row(k=3, v="stream2", score=3)], SCHEMA) \
        .coalesce(1).write.parquet(os.path.join(srcdir, "f1"))
    run_stream()
    ids = dml._batch_ids(path)
    assert sorted(ids) == [0, 1, 2, 3] and len(set(ids)) == 4
    # deterministic: the resumed stream batch (3) beats the DML row (1)
    rows = _latest(spark, path, tomb="deleted")
    assert rows[3].v == "stream2"
    assert 8 not in rows            # delete survives the resume
    # the resumed stream MERGED the sidecar: the evolved tombstone
    # column is still in the schema, not stomped by the stream's kinds
    assert dict(ds.read_sidecar(path)["kinds"])["deleted"] == "bool"
    # the ledger maps epochs, a replay keeps ids stable
    txn = ds._read_txn(path)
    assert txn == {"0": 0, "1": 3}


def test_upsert_crash_before_publish_is_invisible(spark, sink,
                                                  monkeypatch):
    """Kill-between-stage-and-publish (VERDICT r4 #6): an upsert that
    dies after staging its block files (and even after writing its
    manifest json) but BEFORE the version-pointer publish must leave
    the table exactly as it was; vacuum reclaims the orphans; a retry
    commits cleanly with a fresh id."""
    before_latest = _latest(spark, sink)
    before_ids = dml._batch_ids(sink)

    def boom(path, names):
        raise RuntimeError("injected crash before publish")

    monkeypatch.setattr(dml, "_publish_version", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        dml.upsert(spark, sink, spark.createDataFrame(
            [Row(k=5, v="lost", score=1)], SCHEMA))
    monkeypatch.undo()
    # table unchanged: the staged files + manifest are version-invisible
    assert _latest(spark, sink).keys() == before_latest.keys()
    assert _latest(spark, sink)[5].v == before_latest[5].v
    assert dml._batch_ids(sink) == before_ids
    orphans = [f for f in os.listdir(sink) if f.startswith("stream-dml-")]
    assert orphans  # the crash really staged something
    # vacuum reclaims the dead files and the unpublished manifest
    rep = dml.vacuum(sink, older_than_s=0)
    assert any(r.startswith("stream-dml-") for r in rep["removed"])
    assert any(r.startswith("_batches/dml-") for r in rep["removed"])
    # retry succeeds; id allocation never reuses a published id
    man = dml.upsert(spark, sink, spark.createDataFrame(
        [Row(k=5, v="retry", score=2)], SCHEMA))
    assert man["batch_id"] == max(before_ids) + 1
    assert _latest(spark, sink)[5].v == "retry"


def test_dml_skips_ledger_reserved_ids(spark, sink):
    """The r5 ADVICE fix: a stream-writer crash after _write_txn but
    before its manifest publish leaves an id reserved ONLY in the
    ledger. DML must allocate past it, or the replayed epoch commits a
    second manifest with the same id (arbitrary latest-wins ties)."""
    ids = dml._batch_ids(sink)          # [0, 1]
    nxt = max(ids) + 1
    ds._write_txn(sink, {"7": nxt})     # crashed epoch reserved `nxt`
    man = dml.upsert(spark, sink, spark.createDataFrame(
        [Row(k=5, v="v5c", score=1)], SCHEMA))
    assert man["batch_id"] == nxt + 1   # past the reservation
    # the replayed epoch can now commit its reserved id untouched
    assert ds._read_txn(sink)["7"] == nxt


def test_replayed_epoch_after_fold_not_treated_committed(spark, sink):
    """The r5 ADVICE fix for the pre-ledger fallback: after
    compact_sink(gc=False), folded manifests linger ON DISK outside
    the version pointer. A pre-ledger sink replaying such an epoch
    must NOT see the raw {epoch}.json file and 'rewrite' it into the
    version set — that duplicates rows the compacted manifest already
    holds."""
    from oroch_spark.sources.datasource import OrochStreamWriter

    ds.compact_sink(spark, sink, n_buckets=2, gc=False)
    n_before = spark.read.format("oroch") \
        .option("latest_wins", "true").load(sink).count()
    # pre-ledger sink: no _TXN.json
    txn_p = os.path.join(sink, "_batches", "_TXN.json")
    if os.path.exists(txn_p):
        os.remove(txn_p)
    assert os.path.exists(os.path.join(sink, "_batches", "1.json"))
    kinds = ds.read_sidecar(sink)["kinds"]
    w = OrochStreamWriter({"path": sink, "key_cols": "k"}, kinds)
    w.commit([], 1)                     # "replay" of folded epoch 1
    # the folded manifest stayed out of the version set: row set
    # unchanged, and no two visible manifests share a batch id
    n_after = spark.read.format("oroch") \
        .option("latest_wins", "true").load(sink).count()
    assert n_after == n_before
    vis = []
    for mf in ds._manifest_paths(sink):
        with open(mf) as f:
            vis.append(json.load(f)["batch_id"])
    assert len(vis) == len(set(vis))


def test_txn_ledger_is_pruned(spark, tmp_path):
    """Commit-path ledger rewrite must stay O(1)-ish: entries for
    epochs Spark can no longer replay are pruned at commit."""
    ds.register(spark)
    path = _mk_sink(spark, tmp_path, [
        [Row(k=1, v="a", score=1)], [Row(k=2, v="b", score=2)]])
    stale = {str(e): e for e in range(30)}
    ds._write_txn(path, stale)
    from oroch_spark.sources.datasource import (OrochStreamWriter,
                                                _TXN_KEEP_EPOCHS)
    kinds = ds.read_sidecar(path)["kinds"]
    w = OrochStreamWriter({"path": path, "key_cols": "k"}, kinds)
    w.commit([], 40)
    txn = ds._read_txn(path)
    assert "40" in txn
    assert all(int(e) >= 40 - _TXN_KEEP_EPOCHS for e in txn)


def test_dml_requires_sink(spark, tmp_path):
    ds.register(spark)
    path = str(tmp_path / "plain")
    spark.createDataFrame(
        [Row(k=1, v="a", score=1)], SCHEMA) \
        .write.format("oroch").mode("overwrite").option("key_cols", "k").save(path)
    with pytest.raises(ValueError, match="not a streaming-sink"):
        dml.upsert(spark, path, spark.createDataFrame(
            [Row(k=1, v="b", score=2)], SCHEMA))


def test_table_changes_below_compaction_horizon_raises(spark, sink):
    """After compact_sink folds batches, a from_batch below the folded
    top must raise — the base version is gone, and silently reporting
    every key as an insert would be confidently wrong CDF."""
    dml.upsert(spark, sink, spark.createDataFrame(
        [Row(k=1, v="v1b", score=11)], SCHEMA))
    ds.compact_sink(spark, sink, n_buckets=2)
    with pytest.raises(ValueError, match="compaction horizon"):
        dml.table_changes(spark, sink, from_batch=0)
    # from the horizon forward still works; -1 (since beginning) too
    top = max(dml._batch_ids(sink))
    dml.upsert(spark, sink, spark.createDataFrame(
        [Row(k=2, v="v2b", score=22)], SCHEMA))
    feed = dml.table_changes(spark, sink, from_batch=top)
    assert {r["k"] for r in feed.collect()} == {2}
    allfeed = dml.table_changes(spark, sink, from_batch=-1)
    assert allfeed.count() == 20  # every live key an insert


def test_small_frames_are_local_relations(spark, sink):
    """The sink's file-to-batch map and the empty base of a change feed
    read from the start are pyarrow-built local relations: a list-built
    frame is a Python RDD, and every job reading it starts Python
    workers."""
    feed = dml.table_changes(spark, sink, from_batch=-1)
    for df in (ds.stream_sink_blocks(spark, sink), feed):
        qe = df._jdf.queryExecution()
        assert "LocalRelation" in qe.analyzed().toString()
        plan = qe.executedPlan().toString()
        assert "ExistingRDD" not in plan
    plan = ds.stream_sink_blocks(spark, sink)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "LocalTableScan" in plan
    assert {r.k: r._change_type for r in feed.collect()} \
        == {k: "insert" for k in range(20)}


def test_compact_folds_only_the_manifests_it_listed(spark, sink,
                                                    monkeypatch):
    """A batch committed between compact_sink's manifest listing and
    its read of the folded blocks is neither folded nor lost: it stays
    live on its own, so a plain read holds its row once."""
    real, fired = ds.read_sidecar, []

    def commit_then_read(path):
        if not fired:  # once, right after compact_sink lists manifests
            fired.append(dml.upsert(spark, sink, spark.createDataFrame(
                [Row(k=100, v="late", score=1)], SCHEMA)))
        return real(path)

    monkeypatch.setattr(ds, "read_sidecar", commit_then_read)
    man = ds.compact_sink(spark, sink, n_buckets=2, latest_wins=False)
    monkeypatch.undo()
    read = lambda: spark.read.format("oroch").load(sink)
    assert read().filter("k = 100").count() == 1
    assert read().count() == 20 + 1 + 1
    late = fired[0]["batch_id"]
    assert man["batch_id"] < late and late in dml._batch_ids(sink)


def test_null_lead_key_is_one_key(spark, tmp_path):
    """A NULL lead key is one key to every latest-wins reader: upserted
    in a later batch, its newest version alone is what the read, the
    change feed and a compaction see — as the brute-force model says,
    across a plan of several key ranges."""
    path = _mk_sink(spark, tmp_path, [
        [Row(k=None, v="n0", score=0)]
        + [Row(k=i, v=f"v{i}", score=i) for i in range(12)],
        [Row(k=None, v="n1", score=1), Row(k=3, v="v3b", score=33),
         Row(k=20, v="new", score=2)],
    ], block_rows=4)
    kinds, cols = ds.read_sidecar(path)["kinds"], ["k", "v", "score"]
    assert len(engine.latest_plan(
        [(os.path.join(path, f), b)
         for f, b in ds._sink_manifest_files(path)],
        ["k"], dict(kinds))) > 1
    model = latest_model(spark, path, kinds, ["k"])
    assert model[(None,)][1]["v"] == "n1" and len(model) == 14
    read = (spark.read.format("oroch").option("latest_wins", "true")
            .load(path))
    assert sorted_rows(read.select(*cols).collect()) == \
        model_rows(model, cols)
    base = latest_model(spark, path, kinds, ["k"], as_of_batch=0)
    feed = dml.table_changes(spark, path, from_batch=0).collect()
    assert {(r.k,): (r._change_type, r._commit_batch, r.v)
            for r in feed} == {
        k: ("update_postimage" if k in base else "insert", b, row["v"])
        for k, (b, row) in model.items() if b > 0}
    ds.compact_sink(spark, path, n_buckets=2)
    assert sorted_rows(spark.read.format("oroch").load(path)
                       .select(*cols).collect()) == model_rows(model, cols)


def _exchanges(df) -> int:
    """Exchange nodes in ``df``'s physical plan."""
    return df._jdf.queryExecution().executedPlan().toString() \
        .count("Exchange")


def test_latest_wins_plans_no_exchange(spark, sink):
    """The resolver's DataFrame is one narrow map over planned key
    ranges: no shuffle, no broadcast."""
    df = engine.latest_df(
        spark, [(os.path.join(sink, f), b)
                for f, b in ds._sink_manifest_files(sink)],
        ds.read_sidecar(sink)["kinds"], ["k"])
    assert _exchanges(df) == 0
    assert df.count() == 20


def test_compact_sink_plans_one_exchange(spark, sink, monkeypatch):
    """A latest-wins compaction shuffles once: ``encode_df``'s bucket
    repartition. The resolve before it adds none."""
    real, plans = engine.encode_df, []

    def spy(df, *a, **kw):
        out = real(df, *a, **kw)
        plans.append(_exchanges(out))
        return out

    monkeypatch.setattr(engine, "encode_df", spy)
    ds.compact_sink(spark, sink, n_buckets=2)
    assert plans == [1]


def test_latest_ranges_partition_the_keys(spark, tmp_path):
    """Each planned range resolves only its own keys, cut per block
    before the sort (the first range also owns NULL), and together
    the ranges give the brute-force model's rows."""
    import pyarrow as pa

    path = _mk_sink(spark, tmp_path, [
        [Row(k=None, v="n0", score=0)]
        + [Row(k=i, v=f"v{i}", score=i) for i in range(16)],
        [Row(k=i, v=f"w{i}", score=-i) for i in range(0, 16, 3)],
    ], block_rows=4)
    kinds, cols = ds.read_sidecar(path)["kinds"], ["k", "v", "score"]
    plan = engine.latest_plan(
        [(os.path.join(path, f), b)
         for f, b in ds._sink_manifest_files(path)], ["k"], dict(kinds))
    assert len(plan) > 2
    schema = pa.ipc.read_schema(pa.py_buffer(engine._schema_bytes(kinds)))
    got = []
    for i, part in enumerate(plan):
        lo, hi, _ = part
        rows = engine.latest_rows(part, ["k"], schema).to_pylist()
        for r in rows:
            if r["k"] is None:
                assert i == 0
            else:
                assert (lo is None or r["k"] >= lo) \
                    and (hi is None or r["k"] < hi)
        got += [[r[c] for c in cols] for r in rows]
    assert sorted_rows(got) == model_rows(
        latest_model(spark, path, kinds, ["k"]), cols)


def test_latest_plan_reads_desc_only_for_null_counts(spark, sink):
    """A latest-wins plan parses no block descriptor when no NULL key
    can be read: a pushed lead-key test that rejects NULL (a point
    lookup) plans on the bounds alone; without one, a plan of several
    ranges reads the null counts that place the NULL key."""
    pairs = [(os.path.join(sink, f), b)
             for f, b in ds._sink_manifest_files(sink)]
    files, kinds = [f for f, _ in pairs], dict(ds.read_sidecar(sink)["kinds"])
    engine._indexes.clear()
    eq5 = engine._KeyPred(lo=5, hi=5, raw=((">=", 5), ("<=", 5)))
    assert len(engine.latest_plan(pairs, ["k"], kinds, {"k": eq5})) > 1
    ix = engine._BlockIndex.load(files, False)
    assert ix.desc is None and ix._cols is None
    engine.latest_plan(pairs, ["k"], kinds)
    assert engine._BlockIndex.load(files, False) is ix and (
        ix.desc is not None or ix._cols is not None)


def test_table_changes_without_batches_raises(spark, tmp_path):
    """A sink with no committed batch has no change feed, whatever
    ``to_batch`` says."""
    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, ds._BATCH_DIR))
    ds.write_sidecar(path, [("k", "i64"), ("v", "str")], ["k"])
    for to in (None, 3):
        with pytest.raises(FileNotFoundError, match="no committed"):
            dml.table_changes(spark, path, -1, to_batch=to)
