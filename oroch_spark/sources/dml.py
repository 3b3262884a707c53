"""Batch DML over streaming-sink tables: ``upsert``, ``delete_where``,
``vacuum``.

The reference's container is mutable in place (``integer_array.h:216-245``
insert + ripple re-encode); this engine's immutable answer so far is
append = new committed batch, update = latest-wins re-send of the key,
re-encode = :func:`~oroch_spark.sources.datasource.compact_sink`. This
module adds the missing DML verbs as library calls over the SAME
manifest machinery — no new storage concept, each verb is one committed
batch (or, for vacuum, pure file GC):

- :func:`upsert` — commit a DataFrame of rows as one new batch with
  batch id = max + 1. A ``latest_wins`` read resolves its rows over any
  older version of the same keys (Iceberg MERGE-style upsert).
- :func:`delete_where` — evaluate a SQL predicate against the CURRENT
  latest-wins view and commit one tombstone row per matching key.
  ``latest_wins`` reads drop those keys from then on;
  ``compact_sink`` reclaims the space. Evolves the table schema with
  the tombstone column if it does not exist yet (older blocks null-fill
  at decode — missing means "not deleted").
- :func:`vacuum` — physically remove data files and batch manifests no
  committed table version references, older than a grace window: the
  delayed-delete GC that ``compact_sink(gc=False)`` defers to, and the
  janitor for crashed writers' leftovers.
- :func:`table_changes` — the change-data feed between two committed
  versions (insert / update_postimage / delete per changed key), the
  batch pull complementing the push-style ``readStream`` source.

Scale shape: every verb's driver-side work is O(batches) manifest JSON
plus one Spark job; rows never collect. ``delete_where`` writes only
(key, tombstone) rows — deleting a billion rows ships 16-ish bytes per
key, not the rows.

Concurrency: every commit (DML, stream batch, compaction) serializes on
the table write lock and allocates table batch id = max + 1; the stream
writer maps its checkpoint epochs to table ids through the
``_batches/_TXN.json`` ledger, so DML interleaves safely with a
(running or later-resumed) ``writeStream`` — ids never collide. The
sink keeps its ONE-stream-writer-per-table contract: two different
checkpoints share the epoch-keyed ledger and would rewrite each other's
batches.
"""
from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from typing import Optional

from pyspark.sql import functions as F

from .. import engine
from .datasource import (
    _BATCH_DIR,
    _TXN_FILE,
    _VERSION_FILE,
    _manifest_paths,
    _manifests,
    _publish_version,
    _write_lock,
    read_sidecar,
    write_sidecar,
)


def _require_sink(path: str) -> None:
    if not os.path.isdir(os.path.join(path, _BATCH_DIR)):
        raise ValueError(
            f"{path} is not a streaming-sink table (no {_BATCH_DIR}/): "
            "DML needs batch manifests for latest-wins resolution — "
            "plain batch tables are single snapshots, rewrite them "
            "with mode('overwrite')/mode('append') instead")


def _batch_ids(path: str) -> list[int]:
    from .datasource import _sink_batch_ids
    return _sink_batch_ids(path)


# value-preserving widenings the conformance cast may apply silently;
# anything else (string->long, double->long, ...) can null or truncate
# values row by row and must be an explicit, caller-visible cast
_SAFE_WIDEN = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"), ("int", "bigint"),
    ("float", "double"),
}


def _conform(df, kinds: list[tuple[str, str]]):
    """Project ``df`` to exactly the table schema (order + types).
    Missing non-key columns are an error — an upsert row replaces the
    WHOLE row for its key (latest-wins keeps one version), so partial
    rows would silently null the untouched columns. Types must match
    up to value-preserving widenings: Spark's non-ANSI cast turns
    unconvertible values into NULLs silently, the same corruption the
    missing-column check exists to prevent."""
    have = set(df.columns)
    missing = [n for n, _ in kinds if n not in have]
    if missing:
        raise ValueError(f"upsert frame is missing table columns "
                         f"{missing} (latest-wins replaces whole rows)")
    extra = sorted(have - {n for n, _ in kinds})
    if extra:
        raise ValueError(
            f"upsert frame carries columns {extra} the table does not "
            "have — dropping them silently would lose data; evolve the "
            "schema via mode('append') on a batch table, or project "
            "them away explicitly")
    src_types = {f.name: f.dataType.simpleString() for f in df.schema}
    bad = []
    for n, k in kinds:
        want = engine.spark_type_of(k).simpleString()
        got = src_types[n]
        if got != want and (got, want) not in _SAFE_WIDEN:
            # timestamp flavors must match EXACTLY: casting ntz <->
            # ltz reinterprets wall-clock values through the session
            # timezone — a silent semantic shift, not a widening
            bad.append(f"{n}: {got} -> {want}")
    if bad:
        raise ValueError(
            "upsert frame types do not match the table and the cast "
            f"could silently null or reinterpret values: {bad}; cast "
            "explicitly (try_cast / to_timestamp with your own "
            "null+timezone policy) before upserting — this includes "
            "timestamp_ntz <-> timestamp, whose implicit cast shifts "
            "values by the session timezone")
    return df.select(*[F.col(n).cast(engine.spark_type_of(k)).alias(n)
                       for n, k in kinds])


def _commit_rows(spark, path: str, df, kinds: list[tuple[str, str]],
                 key_cols: list[str], n_buckets: int,
                 block_rows: int, note: str) -> dict:
    """Encode ``df`` (already conformed to ``kinds``) and publish it as
    ONE new batch manifest with id = max + 1, under the table lock.
    Files land with stream-part-style unique names so every existing
    sweep/GC rule applies to them unchanged."""
    text_cols = [n for n, k in kinds if k == "str"]
    tmp_dir = os.path.join(path, f".dml-{uuid.uuid4().hex}")
    try:
        engine.encode_df(df, key_cols, n_buckets=n_buckets,
                         block_rows=block_rows, text_cols=text_cols) \
            .write.mode("overwrite").parquet(tmp_dir)
        files = []
        n_blocks = 0
        for f in sorted(glob.glob(os.path.join(tmp_dir, "*.parquet"))):
            import pyarrow.parquet as _pq
            # manifest "blocks" is the encoded BLOCK count (one block
            # per parquet row), the same unit stream-batch manifests
            # record — not the part-file count
            n_blocks += _pq.ParquetFile(f).metadata.num_rows
            fname = f"stream-dml-{uuid.uuid4().hex}.parquet"
            os.replace(f, os.path.join(path, fname))
            files.append(fname)
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
    with _write_lock(path):
        # allocate past committed ids AND ledger-reserved ones: a
        # stream-writer crash after _write_txn but before its manifest
        # publish leaves the epoch's id reserved in _TXN.json only —
        # reusing it here would let the replayed epoch commit a second
        # manifest with this batch_id (latest-wins ties resolve
        # arbitrarily), exactly the collision the ledger prevents
        from .datasource import _read_txn
        reserved = [int(v) for v in _read_txn(path).values()]
        bid = max(_batch_ids(path) + reserved, default=-1) + 1
        man = {"batch_id": bid, "files": files, "blocks": n_blocks,
               "bytes_in": 0, "bytes_out": 0, "dml": note}
        bdir = os.path.join(path, _BATCH_DIR)
        man_name = f"dml-{bid}-{uuid.uuid4().hex}.json"
        tmp = os.path.join(bdir, f".{man_name}.tmp")
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, os.path.join(bdir, man_name))
        _publish_version(path, sorted(
            {os.path.basename(m) for m in _manifest_paths(path)}
            | {man_name}))
    return man


def upsert(spark, path: str, df, n_buckets: int = 8,
           block_rows: int = 65536,
           tombstone_col: Optional[str] = None) -> dict:
    """Commit ``df``'s rows as one new batch: a latest-wins read then
    resolves them over any older version of the same keys (new keys
    simply append). Whole-row semantics — see :func:`_conform`. Name
    the table's ``tombstone_col`` to fill it with False when ``df``
    lacks it: the upsert then un-deletes its keys, matching Iceberg
    MERGE ... WHEN MATCHED THEN UPDATE over an equality-delete."""
    _require_sink(path)
    doc = read_sidecar(path)
    kinds, key_cols = doc["kinds"], doc["key_cols"]
    if tombstone_col is not None and tombstone_col not in df.columns:
        if tombstone_col not in dict(kinds):
            raise ValueError(f"table has no column {tombstone_col!r}")
        df = df.withColumn(tombstone_col, F.lit(False))
    # cache: the frame is executed twice (uniqueness check + encode);
    # a non-deterministic source could otherwise PASS the check and
    # still encode duplicate keys — exactly the nondeterminism the
    # check exists to prevent
    df = _conform(df, kinds).cache()
    try:
        # latest-wins totality rests on per-batch key uniqueness
        # (engine.latest_rows ranks by batch id alone): two versions
        # of a key in ONE batch would resolve nondeterministically
        dup = (df.groupBy(*key_cols).count()
               .filter(F.col("count") > 1).limit(1).collect())
        if dup:
            raise ValueError(
                f"upsert frame holds {dup[0]['count']} rows for key "
                f"{tuple(dup[0][c] for c in key_cols)} — a batch is "
                "one consistent snapshot of its keys; dropDuplicates "
                "or pre-aggregate to one row per key first")
        return _commit_rows(spark, path, df, kinds,
                            key_cols, n_buckets, block_rows, "upsert")
    finally:
        df.unpersist()


def delete_where(spark, path: str, predicate: str,
                 tombstone_col: str = "deleted",
                 n_buckets: int = 8) -> dict:
    """Delete every key whose CURRENT (latest-wins) row matches the SQL
    ``predicate``, by committing one tombstone row per key. Reads must
    pass ``option("tombstone_col", ...)`` (or go through
    ``compact_sink(tombstone_col=...)``) to resolve the deletes.

    The predicate sees the live view, so it can reference any column —
    ``"v LIKE 'spam%'"``, ``"ts < timestamp'2025-01-01'"`` — not just
    keys; already-deleted keys are not re-tombstoned. Non-key columns
    of a tombstone row are NULL (the row is a marker, not data).

    Returns the batch manifest plus ``n_deleted``; ``n_deleted == 0``
    commits nothing."""
    _require_sink(path)
    doc = read_sidecar(path)
    kinds, key_cols = doc["kinds"], doc["key_cols"]
    by_name = dict(kinds)
    if tombstone_col.startswith("_"):
        raise ValueError(
            f"{tombstone_col!r}: names starting with '_' are reserved "
            "for engine-internal columns and are not encoded")
    if tombstone_col in by_name and by_name[tombstone_col] != "bool":
        raise ValueError(f"{tombstone_col!r} exists with kind "
                         f"{by_name[tombstone_col]!r}, need bool")
    reader = (spark.read.format("oroch")
              .option("latest_wins", "true"))
    if tombstone_col in by_name:
        reader = reader.option("tombstone_col", tombstone_col)
    keys = (reader.load(path).filter(predicate)
            .select(*key_cols).distinct().cache())
    try:
        # materialize the match BEFORE evolving the schema: the read
        # plan was resolved against the current sidecar, and a lazy
        # scan after the sidecar gains the tombstone column would
        # produce more columns than the plan expects
        n_deleted = keys.count()
        if n_deleted == 0:
            return {"batch_id": None, "files": [], "n_deleted": 0}
        if tombstone_col not in by_name:
            # schema evolution: older blocks null-fill the new column
            # at decode; every latest-wins read treats missing as
            # "not deleted".
            # MERGE under the lock from a fresh sidecar read — writing
            # back our pre-lock copy would stomp a concurrent
            # evolution (another delete_where's tombstone column, a
            # concurrent append's schema union), silently un-deleting
            # its keys for every future reader
            with _write_lock(path):
                cur = list(read_sidecar(path)["kinds"])
                have = dict(cur)
                if tombstone_col in have:
                    if have[tombstone_col] != "bool":
                        raise ValueError(
                            f"column {tombstone_col!r} exists with "
                            f"kind {have[tombstone_col]!r}; a "
                            "tombstone column must be bool")
                    kinds = cur
                else:
                    kinds = cur + [(tombstone_col, "bool")]
                    write_sidecar(path, kinds, key_cols)
        tomb = keys
        for n, k in kinds:
            if n in key_cols:
                continue
            tomb = tomb.withColumn(
                n, F.lit(True) if n == tombstone_col
                else F.lit(None).cast(engine.spark_type_of(k)))
        man = _commit_rows(spark, path, _conform(tomb, kinds), kinds,
                           key_cols, n_buckets, 65536, "delete_where")
    finally:
        keys.unpersist()
    man["n_deleted"] = n_deleted
    return man


def table_changes(spark, path: str, from_batch: int,
                  to_batch: Optional[int] = None,
                  tombstone_col: Optional[str] = None,
                  include_preimage: bool = False):
    """Change-data feed between two committed versions (the Delta
    ``table_changes`` / Iceberg changelog-scan shape): one row per key
    whose latest-wins state changed in batches ``(from_batch,
    to_batch]``, carrying the POST-image columns plus

    - ``_change_type``: ``insert`` (key absent as of ``from_batch``),
      ``update_postimage`` (key existed, new version), or ``delete``
      (tombstone; post-image non-key columns are the tombstone row's
      NULLs);
    - ``_commit_batch``: the batch id that produced the change.

    ``include_preimage=True`` additionally emits, per updated or
    deleted key, its as-of-``from_batch`` row tagged
    ``update_preimage`` / ``delete_preimage`` (Delta CDF shape) with
    the same ``_commit_batch`` as its post row. Pre-images pay a
    second, full-column latest-wins read of the base version —
    off by default because the existence check alone only decodes
    keys.

    ``from_batch=-1`` means "since the beginning" (every live key an
    insert). A tombstone for a key that never existed as of
    ``from_batch`` is dropped — it changes nothing. Downstream
    consumers that only need at-least-once delivery should prefer
    ``readStream.format("oroch")`` (push, exactly-once); this is the
    batch pull for reconciliation jobs and audits.

    NULL keys are one key, as every latest-wins read resolves them.

    Scale shape: the batches are chosen by manifest before any file is
    read; the changed rows are the engine's latest-wins resolve of the
    CHANGED batches' files (no shuffle), and key existence is a
    key-projected resolve of the ``from_batch`` version — base
    payload columns are never decoded. One join marks the changes."""
    _require_sink(path)
    doc = read_sidecar(path)
    kinds, key_cols = doc["kinds"], doc["key_cols"]
    mans = [(os.path.basename(m), d) for m, d in _manifests(path)]
    if not mans:
        raise FileNotFoundError(f"no committed batches in {path}")
    if to_batch is None:
        to_batch = max(int(d["batch_id"]) for _, d in mans)
    if to_batch <= from_batch:
        raise ValueError(f"empty change range ({from_batch}, {to_batch}]")
    comp_floors = [int(d["batch_id"]) for name, d in mans
                   if name.startswith("compact-")]
    if comp_floors and 0 <= from_batch < max(comp_floors):
        # the table state as of from_batch is gone: those batches
        # were folded into one manifest carrying the top folded id,
        # so the base-version existence check would see an empty
        # prefix and misreport every rewritten key as an insert.
        # (from_batch=-1 stays valid: "since the beginning" needs no
        # base state, and a latest-wins compaction preserves exactly
        # the live-keys-as-inserts answer.) Delta raises the same way
        # for versions outside retained history.
        raise ValueError(
            f"from_batch={from_batch} is below the compaction "
            f"horizon {max(comp_floors)}: that version is no longer "
            "resolvable. Compact with retain_from_batch to keep CDC "
            "history, or read from the horizon forward")

    # a tombstone column the schema has not evolved yet cannot be
    # decoded, and nothing can have been deleted
    tomb = tombstone_col if tombstone_col in dict(kinds) else None

    def latest(lo: int, hi: int, cols: list[tuple[str, str]], drop=tomb):
        """The latest-wins rows of ``cols`` over batches (lo, hi], but
        the keys the tombstone column ``drop`` deletes."""
        return engine.latest_df(spark, [
            (os.path.join(path, f), int(d["batch_id"])) for _, d in mans
            if lo < int(d["batch_id"]) <= hi for f in d["files"]],
            cols, key_cols, drop)

    changed = latest(from_batch, to_batch, kinds, drop=None)
    # key existence as of from_batch: latest-wins over the base range
    # (none from -1), decoding ONLY key (+ tombstone) columns
    base = latest(-1, from_batch, [kv for kv in kinds if kv[0]
                                   in key_cols or kv[0] == tomb]) \
        .select(*key_cols)
    is_del = F.coalesce(F.col(tomb), F.lit(False)) if tomb else F.lit(False)
    out = (_join_keys(changed, base.withColumn("_existed", F.lit(True)),
                      key_cols, "left")
           .withColumn("_change_type",
                       F.when(is_del, F.lit("delete"))
                        .when(F.col("_existed").isNotNull(),
                              F.lit("update_postimage"))
                        .otherwise(F.lit("insert")))
           # a delete of a key that never existed changes nothing
           .filter(~((F.col("_change_type") == "delete")
                     & F.col("_existed").isNull()))
           .drop("_existed", *([tomb] if tomb else []))
           .withColumnRenamed("_batch_id", "_commit_batch"))
    if include_preimage and from_batch >= 0:
        pre_src = latest(-1, from_batch, kinds).drop(
            "_batch_id", *([tomb] if tomb else []))
        touched = (out.filter(F.col("_change_type") != "insert")
                   .select(*key_cols, "_commit_batch", "_change_type"))
        pre = (_join_keys(pre_src, touched, key_cols, "inner")
               .withColumn("_change_type", F.when(
                   F.col("_change_type") == "delete",
                   F.lit("delete_preimage"))
                   .otherwise(F.lit("update_preimage"))))
        out = out.unionByName(pre.select(*out.columns))
    return out


def _join_keys(left, right, key_cols: list[str], how: str):
    """``left`` joined ``how`` to ``right`` on ``key_cols`` with NULL
    equal to NULL (latest-wins resolves a NULL key as one key): the
    key columns first, then ``left``'s other columns and ``right``'s."""
    keys = [f"_key{i}" for i in range(len(key_cols))]
    j = left.join(
        right.select(*[F.col(c).alias(k) for c, k in zip(key_cols, keys)],
                     *[c for c in right.columns if c not in key_cols]),
        [F.col(c).eqNullSafe(F.col(k)) for c, k in zip(key_cols, keys)],
        how)
    return j.select(*key_cols, *[c for c in j.columns
                                 if c not in key_cols and c not in keys])


def vacuum(path: str, older_than_s: float = 3600.0,
           dry_run: bool = False) -> dict:
    """Remove files no committed table version references, older than
    ``older_than_s`` (mtime). Covers: data parquet unnamed by any
    live manifest (crashed tasks, superseded replays, batches folded by
    ``compact_sink(gc=False)``), batch-manifest JSON outside the
    version pointer's set, and stale ``.tmp`` droppings. Runs under the
    write lock so a concurrent commit never races the listing; the
    grace window protects a concurrent writer's landed-but-unpublished
    parts (default 1h — at 100 TB, set it above your slowest commit).

    Works on sink tables (version pointer / manifests) and on batch
    tables (sidecar file registry). ``dry_run`` lists without
    removing. Returns ``{"removed": [...], "kept": n}``."""
    is_sink = os.path.isdir(os.path.join(path, _BATCH_DIR))
    removed: list[str] = []
    kept = 0
    cutoff = time.time() - older_than_s

    def _tree_newest_mtime(d: str) -> float:
        # a directory's own mtime only reflects direct-child churn; a
        # live Spark staging dir can look hours old while its task
        # files are seconds old — age by the NEWEST entry in the tree
        newest = os.path.getmtime(d)
        for root, dirs, fs in os.walk(d):
            for x in dirs + fs:
                try:
                    newest = max(newest,
                                 os.path.getmtime(os.path.join(root, x)))
                except OSError:
                    pass
        return newest

    def _sweep(candidates, live_names):
        nonlocal kept
        for f in candidates:
            name = os.path.basename(f)
            if name in live_names:
                kept += 1
                continue
            try:
                if os.path.getmtime(f) >= cutoff:
                    kept += 1
                    continue
                removed.append(os.path.relpath(f, path))
                if not dry_run:
                    os.remove(f)
            except OSError:
                pass  # raced a concurrent sweep

    with _write_lock(path):
        if is_sink:
            bdir = os.path.join(path, _BATCH_DIR)
            live_mans = {os.path.basename(m)
                         for m in _manifest_paths(path)}
            live_files = set()
            for mf in _manifest_paths(path):
                with open(mf) as f:
                    live_files.update(json.load(f)["files"])
            _sweep(glob.glob(os.path.join(path, "*.parquet")),
                   live_files)
            _sweep([f for f in glob.glob(os.path.join(bdir, "*.json"))
                    if os.path.basename(f) not in (_VERSION_FILE,
                                                   _TXN_FILE)],
                   live_mans)
            _sweep(glob.glob(os.path.join(bdir, ".*.tmp")), set())
        else:
            # registry read INSIDE the lock: outside it, a commit
            # publishing between our read and the sweep would leave
            # its fresh files absent from `live` and (if the job ran
            # longer than the grace window) deletable
            doc = read_sidecar(path)
            live = set(doc.get("files") or [])
            if live:  # legacy tables without a registry: listing IS
                # the table, nothing is provably dead
                _sweep(glob.glob(os.path.join(path, "*.parquet")), live)
        _sweep(glob.glob(os.path.join(path, ".*.tmp")), set())
        # crashed compactions / DML jobs leave whole staging DIRS
        for d in (glob.glob(os.path.join(path, ".compact-*"))
                  + glob.glob(os.path.join(path, ".dml-*"))):
            try:
                if os.path.isdir(d) and _tree_newest_mtime(d) < cutoff:
                    removed.append(os.path.relpath(d, path) + "/")
                    if not dry_run:
                        shutil.rmtree(d, ignore_errors=True)
            except OSError:
                pass
    return {"removed": sorted(removed), "kept": kept,
            "dry_run": dry_run}
