"""``spark.read.format("oroch")`` — the blocks table as a first-class
Spark data source (PySpark 4 Python DataSource API).

Everything the engine exposes as library calls (``engine.decode_df``,
``engine.prune_blocks*``) becomes declarative here: a user points
``spark.read.format("oroch")`` at an encoded table directory and gets
decoded rows with

- **filter pushdown** (`DataSourceReader.pushFilters`): single-column
  predicates (=, <=>, <, <=, >, >=, IN, LIKE-prefix via
  StringStartsWith — rewritten to the range [p, ceil(p)) so the same
  zone-map pruning applies — IS [NOT] NULL against the exact
  per-block null counts, !=/NOT IN — with a constant-block prune —
  ends-with/contains and every NOT() of the above, enforced
  Arrow-side before the JVM transfer) on ANY projected
  string/int-domain column — not just the lead key — are accepted
  and enforced in two stages. Planning loads the table's block index
  (``engine._BlockIndex.load``: the same stat-checked, cached pyarrow
  read a bare-scan builder uses; ``desc`` only for a predicate on a
  non-key column or a null test) and keeps the blocks that
  ``_BlockIndex.admits`` accepts — the one per-block rule of every
  engine builder: lead-key bounds or per-column desc stats, the
  all-null / exact null-count rule and the Blooms. No payload byte of
  a pruned row group is read. Each task then reads just its planned
  blocks and filters the decoded rows exactly in Arrow, so accepted
  filters are fully absorbed (no residual Spark Filter node). This
  mirrors the reference's metadata-pruned ``find``
  (`integer_array.h:71-136`) at the Spark source boundary, extended
  with the engine's secondary zone maps and Blooms.
- **partition-per-row-group parallelism**: each (file, row-group)
  pair holding a kept block is one ``InputPartition`` (carrying the
  kept rows and the file's stats, which the task checks before it
  reads), so decode scales out to however many executors the cluster
  has — no driver-side decode.
- **streaming-sink awareness**: a directory carrying ``_batches/``
  manifests reads as its COMMITTED view (uncommitted attempt files
  are invisible — the sink's exactly-once contract now holds for
  batch readers too), ``option("as_of_batch", n)`` time-travels to
  batches <= n, and ``option("latest_wins", "true")`` (+ optional
  ``option("tombstone_col", c)``) resolves max-batch-id-wins per key
  WITHOUT a shuffle: the lead-key domain splits into ranges at the
  kept blocks' lead-key lows, each range-partition reads every kept
  block overlapping it, and the merge is one
  vectorized Arrow sort + group-boundary scan per partition — the
  declarative face of ``streaming/incremental.read_latest``. In
  latest-wins mode only KEY-column filters push down (the key decides
  group membership, so pruning by key keeps every version of every
  surviving key — the fast path for point lookups on upsert tables);
  any other pre-merge filter could resurrect a stale version, so
  Spark applies those on the merged view.
- **projection** via ``option("columns", "a,b")``: only the named
  columns' blobs are decoded (the descriptor's (offset, length) slices
  — the block-format analogue of parquet column pruning). The Python
  DataSource API has no planner-driven column pruning hook yet, so
  this is an explicit option rather than automatic.

And ``df.write.format("oroch").save(path)`` encodes: each write task
streams its Arrow batches through the same block encoder
(``engine.make_encode_fn`` — codec auto-selection, zone maps, optional
per-column Bloom filters via ``option("bloom_cols", ...)`` /
``option("token_bloom_cols", ...)``, and per-column HLL + quantile
sketches via ``option("sketch_cols", ...)`` feeding
``engine.approx_distinct`` / ``approx_quantile`` over the raw blocks
parquet) and writes one parquet part file of block rows; the driver-side commit writes the ``_oroch_table.json`` sidecar
(schema kinds + key columns — what a reader needs to decode) and
``_SUCCESS``. The write is map-only over the incoming partitioning
(like ``engine.encode_parquet_maponly``): zone maps are true min/max
(`engine._lead_bounds`), so correctness never depends on input
clustering — pre-sorting by key just compresses better. Callers who
want the salted-shuffle layout repartition first (or use
``engine.encode_df`` directly).

Scale notes (100 TB): the reader plans in one process on the block
index, O(blocks): every block's lead-key columns, plus its ``desc``
(a few KB with Blooms and sketches) when a predicate needs it, cached
per table version in the planning process; bulk bytes move
executor-side. The writer is shuffle-free; one parquet file per task, job-prefixed unique
names, so speculative/retried tasks and concurrent jobs can't collide.
Nothing destructive happens before commit: overwrite's sweep of the
previous table runs only after every task reports success, and
``mode("append")`` adds manifest-compatible blocks (merged sidecar
schema; old blocks null-fill new columns at decode) without ever
touching pre-existing files. Commits serialize on an advisory
directory lock (``_write_lock``): concurrent appends/compactions
read-modify-write the registry and version pointer under it, so
neither loses the other's update — on filesystems without atomic
mkdir/rename (plain object stores) swap in a catalog/lock service.
"""
from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import Iterator, Optional

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
    WriterCommitMessage,
)

from .. import engine
from ..engine import _KeyPred, _stats_overlap  # noqa: F401 (re-exported)

SIDECAR = "_oroch_table.json"
_BATCH_DIR = "_batches"   # streaming sink's per-batch manifests


# ---------------------------------------------------------------------------
# Sidecar
# ---------------------------------------------------------------------------

def write_sidecar(path: str, kinds: list[tuple[str, str]],
                  key_cols: list[str],
                  files: Optional[list[str]] = None) -> None:
    """Publish the table metadata a reader needs. Safe to call on a
    directory already holding blocks parquet written by
    ``engine.encode_df(...).write.parquet(path)`` — this is how an
    existing blocks dir becomes ``format("oroch")``-readable (without
    ``files`` the reader lists the directory).

    ``files`` (batch-writer commits): the COMMITTED file registry —
    the sidecar swap is then the atomic publish, a reader resolves
    exactly one table version, and part files a crashed job left
    behind are invisible until the next commit sweeps them. One
    writer at a time per table (the registry is read-modify-write);
    readers are safe any time."""
    doc = {"version": 2, "kinds": [list(kv) for kv in kinds],
           "key_cols": list(key_cols)}
    if files is not None:
        doc["files"] = sorted(set(files))
    tmp = os.path.join(path, f".{SIDECAR}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, os.path.join(path, SIDECAR))


_WLOCK_DIR = "_oroch_write.lock"


@contextlib.contextmanager
def _write_lock(path: str, timeout: float = 60.0, ttl: float = 300.0):
    """Advisory single-writer lock for a table directory's COMMIT
    critical sections (registry/manifest read-modify-write + orphan
    sweeps — sub-second work; the heavy encode never holds it).
    ``os.mkdir`` is the atomic test-and-set, which holds on POSIX and
    HDFS-like filesystems; object stores without atomic namespace ops
    need a catalog/lock service instead — this is the documented
    single-host/DFS answer, not a distributed lock manager. A lock
    whose mtime is older than ``ttl`` belonged to a crashed writer
    and is stolen via atomic rename (only one stealer's rename
    succeeds)."""
    lock = os.path.join(path, _WLOCK_DIR)
    deadline = time.monotonic() + timeout
    # steal only after CONFIRMING staleness: the same lock mtime must
    # be observed as stale across a short window (so a lock released
    # and re-acquired by a live writer in between — new mtime — is
    # never renamed away; the classic check-then-steal TOCTOU shrinks
    # to one poll interval). Residual risk and the wall-clock-vs-file-
    # mtime skew caveat are documented above: a real multi-writer
    # object-store deployment uses a catalog lock, not this.
    stale_seen: Optional[tuple[float, float]] = None  # (mtime, since)
    while True:
        try:
            os.mkdir(lock)
            break
        except FileExistsError:
            now = time.monotonic()
            try:
                mt = os.path.getmtime(lock)
            except OSError:
                mt = None                    # released between checks
            if mt is not None and time.time() - mt > ttl:
                if stale_seen is None or stale_seen[0] != mt:
                    stale_seen = (mt, now)
                elif now - stale_seen[1] > 2.0:
                    stale = f"{lock}.stale-{uuid.uuid4().hex}"
                    try:
                        if os.path.getmtime(lock) == mt:
                            os.rename(lock, stale)
                            shutil.rmtree(stale, ignore_errors=True)
                    except OSError:
                        pass                 # another stealer/release won
                    stale_seen = None
                    continue
            else:
                stale_seen = None
            if now > deadline:
                raise TimeoutError(
                    f"could not acquire the write lock on {path} "
                    f"within {timeout}s: another writer is committing "
                    f"(or crashed less than ttl={ttl}s ago — its lock "
                    "will be stolen once stale)")
            time.sleep(0.05)
    try:
        with open(os.path.join(lock, "owner.json"), "w") as f:
            json.dump({"pid": os.getpid(),
                       "ts": time.time()}, f)
        yield
    finally:
        shutil.rmtree(lock, ignore_errors=True)


_SWEEP_GRACE = 300.0   # seconds; matches the write-lock TTL


def _sweep_orphans(pattern: str, keep: set, own_prefix: str = "",
                   grace: float = _SWEEP_GRACE) -> None:
    """Remove unreferenced files matching ``pattern`` — but only ones
    older than ``grace`` (or carrying ``own_prefix``, i.e. this job's
    own attempts). A concurrent writer's tasks may have landed files
    that its commit has not yet published: fresh files are NOT
    orphans, they are someone's in-flight work. Crashed jobs' leftovers
    are by definition old by the time a later commit sweeps."""
    for f in glob.glob(pattern):
        name = os.path.basename(f)
        if name in keep:
            continue
        if not (own_prefix and name.startswith(own_prefix)):
            try:
                if time.time() - os.path.getmtime(f) < grace:
                    continue
            except OSError:
                continue                     # raced a concurrent sweep
        try:
            os.remove(f)
        except OSError:
            pass


def read_sidecar(path: str) -> dict:
    p = os.path.join(path, SIDECAR)
    if not os.path.exists(p):
        raise FileNotFoundError(
            f"{p} not found: not an oroch table (write with "
            f"df.write.format('oroch') or publish metadata for an "
            f"existing blocks dir via write_sidecar())")
    with open(p) as f:
        doc = json.load(f)
    doc["kinds"] = [tuple(kv) for kv in doc["kinds"]]
    return doc


def _arrow_schema_bytes(kinds: list[tuple[str, str]]) -> bytes:
    from pyspark.sql.pandas.types import to_arrow_schema
    st = T.StructType(
        [T.StructField(n, engine.spark_type_of(k)) for n, k in kinds])
    return to_arrow_schema(st).serialize().to_pybytes()


# ---------------------------------------------------------------------------
# Filter translation
# ---------------------------------------------------------------------------

def _domain_of(v):
    """Map a filter literal to the zone-map prune domain: int64 for
    integral kinds (date -> days, bool -> 0/1), str for string keys.
    Returns None for types we refuse to prune on (then the filter is
    left to Spark)."""
    import datetime
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, int):
        return v
    if isinstance(v, str):
        return v
    if type(v) is datetime.date:
        return (v - datetime.date(1970, 1, 1)).days
    return None  # float / naive datetime / anything ambiguous


def _translate(filters: list["Filter"], cols_ok: set[str]):
    """Split filters into (accepted, unsupported, {col: pred}). A
    filter is accepted only if the reader can enforce it EXACTLY
    (Spark does not re-apply accepted filters): single-column
    =/IN/</<=/>/>= on any projected string/integer-domain column.

    OR-of-columns never arrives here by API construction: PySpark's
    DataSource pushdown vocabulary (pyspark.sql.datasource) has leaf
    filters plus Not only — no Or/And classes — so Spark keeps
    disjunctions JVM-side (correct, just unpruned) and offers the
    conjuncts it can split. The engine-level OR prune
    (engine.prune_blocks_in) remains available via the library API."""
    preds: dict[str, _KeyPred] = {}
    accepted: list[Filter] = []
    unsupported: list[Filter] = []
    raws: dict[str, list] = {}

    def bump_lo(pred, d, inclusive):
        lo = d if inclusive else (d + 1 if isinstance(d, int) else d)
        if pred.lo is None or lo > pred.lo:
            pred.lo = lo

    def bump_hi(pred, d, inclusive):
        hi = d if inclusive else (d - 1 if isinstance(d, int) else d)
        if pred.hi is None or hi < pred.hi:
            pred.hi = hi

    for f in filters:
        # Spark simplifies NOT before pushdown, so the child of a Not
        # is always a leaf predicate; the attribute lives on the child
        leaf = f.child if isinstance(f, Not) else f
        attr = getattr(leaf, "attribute", None)
        if attr is None or len(tuple(attr)) != 1 \
                or tuple(attr)[0] not in cols_ok:
            unsupported.append(f)
            continue
        col = tuple(attr)[0]
        pred = preds.setdefault(col, _KeyPred(raw=()))
        raw = raws.setdefault(col, [])
        if isinstance(f, Not):
            g = leaf
            if isinstance(g, EqualTo) or (isinstance(g, EqualNullSafe)
                                          and g.value is not None):
                d = _domain_of(g.value)
                if d is None:
                    unsupported.append(f)
                    continue
                # NOT(col = v) is null-rejecting (SQL ternary: NULL=v
                # is NULL, NOT NULL is NULL, filtered) — it may feed
                # the constant-block prune. NOT(col <=> v) PASSES
                # nulls, and block min/max ignore nulls, so it must
                # stay row-level only.
                if isinstance(g, EqualTo):
                    pred.neq = (pred.neq or set()) | {d}
                    raw.append(("neq", (g.value,)))
                else:
                    raw.append(("nseq", (g.value,)))
                accepted.append(f)
            elif isinstance(g, In):
                ds = [_domain_of(v) for v in g.value]
                if any(d is None for d in ds):
                    unsupported.append(f)
                    continue
                pred.neq = (pred.neq or set()) | set(ds)
                raw.append(("neq", tuple(g.value)))
                accepted.append(f)
            elif isinstance(g, EqualNullSafe):  # value is None
                raw.append(("notnull", None))
                accepted.append(f)
            elif isinstance(g, IsNull):
                raw.append(("notnull", None))
                accepted.append(f)
            elif isinstance(g, IsNotNull):
                raw.append(("isnull", None))
                accepted.append(f)
            elif isinstance(g, (StringStartsWith, StringEndsWith,
                                StringContains)) \
                    and isinstance(g.value, str):
                op = {StringStartsWith: "nsw", StringEndsWith: "new",
                      StringContains: "nct"}[type(g)]
                raw.append((op, g.value))
                accepted.append(f)
            else:
                unsupported.append(f)
        elif isinstance(f, EqualTo) or (isinstance(f, EqualNullSafe)
                                        and f.value is not None):
            d = _domain_of(f.value)
            if d is None:
                unsupported.append(f)
                continue
            pred.values = [d] if pred.values is None \
                else [x for x in pred.values if x == d]
            raw.append(("in", (f.value,)))
            accepted.append(f)
        elif isinstance(f, In):
            ds = [_domain_of(v) for v in f.value]
            if any(d is None for d in ds):
                unsupported.append(f)
                continue
            pred.values = ds if pred.values is None \
                else [x for x in pred.values if x in set(ds)]
            raw.append(("in", tuple(f.value)))
            accepted.append(f)
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual,
                            LessThan, LessThanOrEqual)):
            d = _domain_of(f.value)
            if d is None:
                unsupported.append(f)
                continue
            if isinstance(f, GreaterThan):
                bump_lo(pred, d, inclusive=False)
                raw.append((">", f.value))
            elif isinstance(f, GreaterThanOrEqual):
                bump_lo(pred, d, inclusive=True)
                raw.append((">=", f.value))
            elif isinstance(f, LessThan):
                bump_hi(pred, d, inclusive=False)
                raw.append(("<", f.value))
            else:
                bump_hi(pred, d, inclusive=True)
                raw.append(("<=", f.value))
            accepted.append(f)
        elif isinstance(f, StringStartsWith):
            p = f.value
            if not isinstance(p, str):
                unsupported.append(f)
                continue
            # prefix predicate == the range [p, ceil(p)): every string
            # starting with p sorts between p and the prefix with its
            # last incrementable code point bumped — so the existing
            # zone-map / row-group-stats pruning applies unchanged
            bump_lo(pred, p, inclusive=True)
            up = engine._ceil_str_bound(p + "x", limit=len(p)) \
                if p else None
            if up is not None:
                bump_hi(pred, up, inclusive=True)
            raw.append(("sw", p))
            accepted.append(f)
        elif isinstance(f, (StringEndsWith, StringContains)):
            if not isinstance(f.value, str):
                unsupported.append(f)
                continue
            # no range/Bloom prune exists for suffix/substring — the
            # win is Arrow-side row filtering before the JVM transfer
            raw.append(("ew" if isinstance(f, StringEndsWith) else "ct",
                        f.value))
            accepted.append(f)
        elif isinstance(f, (IsNull, EqualNullSafe)):
            # EqualNullSafe reaching here has value None == IS NULL;
            # pruned against the exact per-block null counts at planning
            raw.append(("isnull", None))
            accepted.append(f)
        elif isinstance(f, IsNotNull):
            raw.append(("notnull", None))
            accepted.append(f)
        else:
            unsupported.append(f)
    for col, pred in preds.items():
        pred.raw = tuple(raws.get(col, ()))
    preds = {c: p for c, p in preds.items() if p.raw}
    return accepted, unsupported, preds


# ---------------------------------------------------------------------------
# Reader
# ---------------------------------------------------------------------------

class _RGPartition(InputPartition):
    """One (file, row-group) of a plain read: its planned ``rows`` (the
    blocks the block index kept) and the file's ``stats`` at planning,
    which the read checks. ``preds`` are the filters pushed for THE
    QUERY THIS PARTITION BELONGS TO — filter state rides in the
    partitions, never in the reader, because Spark reuses one reader
    instance for every query on a loaded DataFrame and only calls
    pushFilters when that query has filters: reader-held predicates
    would silently keep filtering later unfiltered queries."""

    def __init__(self, file: Optional[str], row_group: int,
                 preds: Optional[dict] = None, stats: tuple = (),
                 rows: tuple = ()):
        self.file = file
        self.row_group = row_group
        self.preds = preds or {}
        self.stats = stats
        self.rows = rows


class _MergePartition(InputPartition):
    """One lead-key range of a latest-wins read: every kept block whose
    bounds overlap [lo, hi) — so the partition holds ALL candidate
    versions of its keys and can resolve latest-wins locally, without
    a shuffle (the Python DataSource API cannot express one)."""

    def __init__(self, lo, hi, items: list,
                 preds: Optional[dict] = None):
        self.lo = lo            # None = open below
        self.hi = hi            # None = open above (last range)
        self.items = items      # [(file, stats, row_group, rows, batch)]
        self.preds = preds or {}  # per-query pushed KEY filters


_VERSION_FILE = "_VERSION.json"


def _manifest_paths(path: str) -> list[str]:
    """The authoritative manifest set of a sink directory. When the
    version pointer exists, it IS the table version — one atomic
    ``os.replace`` swaps the whole manifest set, so a reader racing a
    compaction resolves either the old set or the new set, never a mix
    (the round-3 manifest-swap race). Directories written before the
    pointer existed fall back to the directory listing."""
    bdir = os.path.join(path, _BATCH_DIR)
    vp = os.path.join(bdir, _VERSION_FILE)
    if os.path.exists(vp):
        with open(vp) as f:
            doc = json.load(f)
        return [os.path.join(bdir, m) for m in doc["manifests"]]
    return sorted(f for f in glob.glob(os.path.join(bdir, "*.json"))
                  if os.path.basename(f) not in (_VERSION_FILE,
                                                 _TXN_FILE))


def _publish_version(path: str, manifest_names: list[str]) -> None:
    """Atomically point the sink at exactly this manifest set (write
    tmp + rename — the publish step; the named manifests must already
    be durable)."""
    bdir = os.path.join(path, _BATCH_DIR)
    tmp = os.path.join(bdir, f".version.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump({"manifests": sorted(set(manifest_names))}, f)
    os.replace(tmp, os.path.join(bdir, _VERSION_FILE))


_TXN_FILE = "_TXN.json"
# ledger entries older than (current epoch - this) are pruned at
# commit: Spark only replays the most recent uncommitted epoch, so
# anything further back can never be asked for again (slack of a few
# epochs guards manual checkpoint surgery)
_TXN_KEEP_EPOCHS = 8


def _read_txn(path: str) -> dict:
    """Stream-epoch -> table-batch-id ledger (see
    ``OrochStreamWriter.commit``). Missing file = empty ledger (tables
    written before the ledger existed behaved as id == epoch)."""
    p = os.path.join(path, _BATCH_DIR, _TXN_FILE)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _write_txn(path: str, txn: dict) -> None:
    bdir = os.path.join(path, _BATCH_DIR)
    tmp = os.path.join(bdir, f".txn.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(txn, f)
    os.replace(tmp, os.path.join(bdir, _TXN_FILE))


def _sink_batch_ids(path: str) -> list[int]:
    """Batch ids of every committed (version-visible) manifest."""
    out = []
    for mf in _manifest_paths(path):
        with open(mf) as f:
            out.append(int(json.load(f)["batch_id"]))
    return out


def _sink_manifest_files(path: str, as_of_batch: Optional[int] = None):
    """(relative file, batch_id) pairs of the committed streaming-sink
    view — files not named by a manifest (aborted or in-flight write
    attempts) are invisible, the sink's exactly-once contract. With
    ``as_of_batch`` only batches <= it are visible (time travel)."""
    out = []
    for mf in _manifest_paths(path):
        with open(mf) as f:
            doc = json.load(f)
        if as_of_batch is None or int(doc["batch_id"]) <= as_of_batch:
            out += [(f, int(doc["batch_id"])) for f in doc["files"]]
    return out


def _projected_kinds(options: dict,
                     kinds: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Apply the explicit ``columns`` projection option (must agree
    between ``schema()`` and the reader)."""
    cols_opt = options.get("columns")
    if not cols_opt:
        return kinds
    want = [c.strip() for c in str(cols_opt).split(",") if c.strip()]
    by_name = dict(kinds)
    missing = [c for c in want if c not in by_name]
    if missing:
        raise ValueError(f"columns option names unknown columns: {missing}")
    return [(c, by_name[c]) for c in want]


_PRUNABLE_KINDS = ("str", "i8", "i16", "i32", "i64", "ts", "date",
                   "bool")


def _reader_view_kinds(options: dict, kinds: list[tuple[str, str]]):
    """The schema a read with these options produces: the ``columns``
    projection, minus the tombstone column in latest-wins mode (a
    delete marker is resolution input, not output — compact_sink drops
    it the same way)."""
    out = _projected_kinds(options, kinds)
    if str(options.get("latest_wins", "")).lower() == "true":
        ts = options.get("tombstone_col")
        if ts:
            out = [kv for kv in out if kv[0] != ts]
    return out


class OrochReader(DataSourceReader):
    def __init__(self, options: dict, kinds: list[tuple[str, str]],
                 key_cols: list[str],
                 reg_files: Optional[list[str]] = None):
        self.path = options["path"]
        self.reg_files = reg_files  # sidecar's committed-file registry
        self.key_cols = list(key_cols)
        self.key_col = key_cols[0]
        self.latest = str(options.get("latest_wins", "")).lower() \
            == "true"
        ab = options.get("as_of_batch")
        self.as_of = int(ab) if ab is not None else None
        self.tombstone = options.get("tombstone_col") or None
        self.merge_parts = int(options.get("merge_partitions", 32))
        self.kinds = _reader_view_kinds(options, kinds)
        self.kind_of = dict(kinds)
        self.schema_bytes = _arrow_schema_bytes(self.kinds)
        # committed streaming-sink view: when the directory carries
        # batch manifests, only manifest-named files are the table
        # (uncommitted attempts stay invisible); batch ids feed
        # latest-wins resolution and as-of time travel
        pairs = _sink_manifest_files(self.path, self.as_of)
        self.batch_of = {f: b for f, b in pairs} \
            if (pairs or os.path.isdir(os.path.join(self.path,
                                                    _BATCH_DIR))) \
            else None
        if (self.latest or self.as_of is not None) \
                and self.batch_of is None:
            raise ValueError(
                "latest_wins / as_of_batch need a streaming-sink "
                f"directory with {_BATCH_DIR}/ manifests; {self.path} "
                "is a plain batch table (already a single snapshot)")
        if self.latest:
            # latest-wins merge needs the key + batch id, and reads
            # the tombstone marker even though it is not output
            if self.tombstone and self.tombstone not in self.kind_of:
                # the tombstone column is born when the first
                # delete_where evolves the schema; before any delete
                # committed, nothing is tombstoned — read as plain
                # latest-wins instead of failing on a column the
                # delete path itself would create (a uniformly
                # configured reader must work on a not-yet-deleted
                # table). Guard the race with a concurrent
                # delete_where: our kinds came from a sidecar read
                # that PRECEDED the manifest listing above, so a
                # delete committing in between could be in our pinned
                # snapshot while our schema predates it (its sidecar
                # update happens-before its manifest publish). A fresh
                # sidecar read taken now, after the listing, decides
                # loudly instead of surfacing deleted keys as rows.
                fresh = dict(read_sidecar(self.path).get("kinds", []))
                if self.tombstone in fresh:
                    raise ValueError(
                        f"tombstone column {self.tombstone!r} was "
                        "created by a concurrent delete_where while "
                        "this read was being planned; retry the read")
                self.tombstone = None
            need = {n for n, _ in self.kinds} | set(self.key_cols) \
                | ({self.tombstone} if self.tombstone else set())
            unknown = need - set(self.kind_of)
            if unknown:
                raise ValueError(f"unknown columns {sorted(unknown)}")
            self.dec_kinds = [kv for kv in kinds if kv[0] in need]
            self.dec_schema_bytes = _arrow_schema_bytes(self.dec_kinds)
        self.preds: dict[str, _KeyPred] = {}

    # -- pushdown ----------------------------------------------------------
    def pushFilters(self, filters: list["Filter"]) -> Iterator["Filter"]:
        # accept single-column predicates on ANY projected column with
        # a string/integer prune domain — exact enforcement decodes the
        # column anyway; the win is the block index's per-block skip
        # (lead-key bounds, desc stats, null counts and Blooms)
        if self.latest:
            # a filter evaluated BEFORE latest-wins resolution could
            # drop the newest version of a key and resurrect a stale
            # one — EXCEPT on the key columns themselves: the key
            # decides group membership, every version of a surviving
            # key survives the prune, so key predicates push safely
            # (the fast path for point lookups on upsert tables).
            # Everything else stays with Spark, applied post-merge.
            cols_ok = {c for c in self.key_cols
                       if self.kind_of.get(c) in _PRUNABLE_KINDS}
            accepted, unsupported, preds = _translate(filters, cols_ok)
            self.preds = preds
            return iter(unsupported)
        cols_ok = {n for n, k in self.kinds if k in _PRUNABLE_KINDS}
        accepted, unsupported, preds = _translate(filters, cols_ok)
        self.preds = preds
        return iter(unsupported)

    def _files(self) -> list[tuple[str, Optional[int]]]:
        if self.batch_of is not None:       # streaming sink: manifests
            return [(os.path.join(self.path, f), b)
                    for f, b in sorted(self.batch_of.items())]
        if self.reg_files is not None:      # batch table: the sidecar
            return [(os.path.join(self.path, f), None)  # registry IS
                    for f in self.reg_files]            # the version
        return [(f, None) for f in          # legacy: directory listing
                sorted(glob.glob(os.path.join(self.path, "*.parquet")))]

    # -- planning ----------------------------------------------------------
    def _plan(self, preds: dict):
        """The files this read lists, their block index and the
        positions of the blocks that may hold a row matching every
        pushed predicate, each block decided by
        ``engine._BlockIndex.admits`` — the rule every engine builder
        prunes with. ``desc`` is loaded only for a predicate on another
        column than the lead key, or a null test; a lead-key range
        reads the bounds columns alone."""
        files = self._files()
        if not files:
            return files, None, []
        ix = engine._BlockIndex.load(
            [f for f, _ in files],
            any(c != self.key_col or p.nullish for c, p in preds.items()))
        if ix is None:
            raise OSError(f"the files of oroch table {self.path} kept "
                          "changing while the read was planned; retry it")
        return files, ix, ix.keep(lambda i: all(
            ix.admits(i, c, p, self.kind_of[c], c == self.key_col)
            for c, p in preds.items()))

    def partitions(self) -> list[InputPartition]:
        # consume the pushed filters: they belong to the query being
        # planned NOW. Spark reuses this reader for every query on the
        # loaded DataFrame but only calls pushFilters for queries that
        # HAVE filters — predicates left on the reader would keep
        # filtering later unfiltered queries (observed r3 defect).
        preds, self.preds = self.preds, {}
        if self.latest:
            return self._merge_partitions(preds)
        files, ix, keep = self._plan(preds)
        if not keep:
            # Never return an empty plan: when the pushed predicates
            # prune EVERY block (e.g. a range filter beyond the table's
            # key domain), Spark still launches one task and hands
            # read() a None partition — read() treats a file-less
            # partition as an empty scan.
            return [_RGPartition(None, -1, {})]
        return [_RGPartition(files[f][0], g, preds, ix._stats[f], rows)
                for f, g, rows, _ in ix.placed(keep)]

    def _merge_partitions(self, preds: dict) -> list[InputPartition]:
        """Latest-wins planning: split the lead-key domain into ranges
        at the kept blocks' lows (driver-side, block index only) and
        give each range every kept block whose bounds overlap it. All
        versions of a key land in exactly one partition, so the merge
        is partition-local — merge-on-read without a shuffle. A pushed
        KEY predicate prunes merge-safely: a block with no matching key
        holds no version of a surviving key. A block without bounds
        collapses the plan to a single partition (correct, not
        parallel)."""
        files, ix, keep = self._plan(preds)
        if not keep:
            # all blocks pruned (or empty table): same empty-scan
            # sentinel as the plain planner — Spark would otherwise
            # call read(None) on an empty plan
            return [_RGPartition(None, -1, {})]
        bounds = [ix.bounds(i, "" if self.kind_of[self.key_col] == "str"
                            else 0) for i in keep]
        edges = [None, None]
        if len(keep) > 1 and self.merge_parts > 1 \
                and not any(None in b for b in bounds):
            los = sorted(lo for lo, _ in bounds)
            nparts = min(self.merge_parts, len(keep))
            edges = [None] + sorted({los[len(los) * i // nparts]
                                     for i in range(1, nparts)}) + [None]
        parts = []
        for rlo, rhi in zip(edges, edges[1:]):
            items = [(files[f][0], ix._stats[f], g, rows, files[f][1])
                     for f, g, rows, _ in ix.placed(
                         [i for i, (lo, hi) in zip(keep, bounds)
                          if (rhi is None or lo < rhi)
                          and (rlo is None or hi >= rlo)])]
            if items:
                parts.append(_MergePartition(rlo, rhi, items, preds))
        return parts

    # -- execution ---------------------------------------------------------
    @staticmethod
    def _planned(file: str, stats: tuple, row_group: int,
                 rows: list[int]) -> Iterator:
        """A block reader per planned row of one row group, read only
        while ``file`` still has the ``stats`` it was planned on: a
        file rewritten since raises, so no read decodes blocks its
        plan did not keep."""
        import pyarrow.parquet as pq

        got = engine._stable([file], (stats,), lambda: engine._read_rows(
            pq.ParquetFile(file), row_group, rows))
        if got is None:
            raise OSError(f"{file} changed since this read was planned; "
                          "retry the read")
        return engine._read_blocks(got)

    def read(self, partition) -> Iterator:
        import pyarrow as pa

        if partition is None:
            return  # Spark's stand-in task for an empty plan
        if isinstance(partition, _MergePartition):
            yield from self._read_merge(partition)
            return
        if partition.file is None:
            return  # empty-scan sentinel (every block pruned)
        out_schema = pa.ipc.read_schema(pa.py_buffer(self.schema_bytes))
        for blk in self._planned(partition.file, partition.stats,
                                 partition.row_group, partition.rows):
            batch = blk.batch(out_schema)
            if partition.preds:
                batch = self._exact_filter(batch, partition.preds)
            if batch.num_rows:
                yield batch

    def _exact_filter(self, batch, preds):
        """Enforce the ACCEPTED filters exactly (Spark won't re-apply
        them): compare each decoded predicate column against the
        original literals in Arrow."""
        import pyarrow as pa
        import pyarrow.compute as pc

        mask = None

        def also(m):
            nonlocal mask
            mask = m if mask is None else pc.and_(mask, m)

        for col, pred in preds.items():
            arr = batch.column(col)
            for op, v in pred.raw:
                if op == "in":
                    vs = pa.array(list(v), type=arr.type)
                    also(pc.is_in(arr, value_set=vs))
                elif op == "neq":
                    # SQL NOT(col = v): null rows fail
                    vs = pa.array(list(v), type=arr.type)
                    also(pc.and_kleene(pc.is_valid(arr),
                                       pc.invert(pc.is_in(arr,
                                                          value_set=vs))))
                elif op == "nseq":
                    # NOT(col <=> v), v non-null: null rows PASS
                    s = pa.scalar(v[0], type=arr.type)
                    also(pc.invert(pc.fill_null(pc.equal(arr, s),
                                                False)))
                elif op == "sw":
                    also(pc.starts_with(arr, pattern=v))
                elif op == "ew":
                    also(pc.ends_with(arr, pattern=v))
                elif op == "ct":
                    also(pc.match_substring(arr, pattern=v))
                elif op == "nsw":
                    # null propagates through invert -> row dropped,
                    # matching SQL NOT(startswith(NULL, p)) = NULL
                    also(pc.invert(pc.starts_with(arr, pattern=v)))
                elif op == "new":
                    also(pc.invert(pc.ends_with(arr, pattern=v)))
                elif op == "nct":
                    also(pc.invert(pc.match_substring(arr, pattern=v)))
                elif op == "isnull":
                    also(pc.is_null(arr))
                elif op == "notnull":
                    also(pc.is_valid(arr))
                else:
                    s = pa.scalar(v, type=arr.type)
                    also({"<": pc.less, "<=": pc.less_equal,
                          ">": pc.greater,
                          ">=": pc.greater_equal}[op](arr, s))
        return batch.filter(mask) if mask is not None else batch

    def _read_merge(self, part: _MergePartition) -> Iterator:
        """Latest-wins execution for one key range: decode the planned
        blocks, keep only this range's rows, and resolve
        max-batch-id-wins per key with one vectorized sort +
        group-boundary scan — no Python per row."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        dec_schema = pa.ipc.read_schema(
            pa.py_buffer(self.dec_schema_bytes))
        full_schema = dec_schema.append(pa.field("__b", pa.int64()))
        batches = [blk.batch(full_schema, passthrough={"__b": int(bid)})
                   for file, stats, rg, rows, bid in part.items
                   for blk in self._planned(file, stats, rg, rows)]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        key = tbl.column(self.key_col)
        if key.null_count:
            raise ValueError(
                "latest_wins requires a non-null lead key (upsert keys "
                "are identifiers; a NULL key has no latest version)")
        mask = None
        if part.lo is not None:
            mask = pc.greater_equal(key, pa.scalar(part.lo,
                                                   type=key.type))
        if part.hi is not None:
            m = pc.less(key, pa.scalar(part.hi, type=key.type))
            mask = m if mask is None else pc.and_(mask, m)
        if mask is not None:
            tbl = tbl.filter(mask)
        if tbl.num_rows == 0:
            return
        order = [(k, "ascending") for k in self.key_cols] \
            + [("__b", "descending")]
        tbl = tbl.take(pc.sort_indices(tbl, sort_keys=order))
        n = tbl.num_rows
        first = np.zeros(n, dtype=bool)
        first[0] = True
        for k in self.key_cols:   # row i starts a key group iff any
            col = tbl.column(k).combine_chunks()  # key col differs
            if n == 1:
                break
            a, b = col.slice(1), col.slice(0, n - 1)
            same = pc.fill_null(pc.equal(a, b), False)
            both_null = pc.and_(pc.is_null(a), pc.is_null(b))
            first[1:] |= pc.invert(pc.or_(same, both_null)) \
                .to_numpy(zero_copy_only=False)
        tbl = tbl.filter(pa.array(first))
        if self.tombstone:
            tomb = pc.fill_null(tbl.column(self.tombstone), False)
            tbl = tbl.filter(pc.invert(tomb))
        if part.preds:
            # exact enforcement of the pushed key predicates, AFTER
            # resolution (order is immaterial for key predicates, but
            # post-merge keeps one code path); works on Table like on
            # RecordBatch
            tbl = self._exact_filter(tbl, part.preds)
        out_schema = pa.ipc.read_schema(pa.py_buffer(self.schema_bytes))
        out = pa.table({f.name: tbl.column(f.name)
                        for f in out_schema}).cast(out_schema)
        yield from out.to_batches()


# ---------------------------------------------------------------------------
# Writer
# ---------------------------------------------------------------------------

@dataclass
class _Committed(WriterCommitMessage):
    file: str
    blocks: int
    bytes_in: int
    bytes_out: int


def _parse_write_options(options: dict, kinds: list[tuple[str, str]]):
    key_opt = options.get("key_cols") or options.get("keycols")
    if not key_opt:
        raise ValueError(
            "oroch write requires option('key_cols', 'a[,b]')")
    key_cols = [c.strip() for c in str(key_opt).split(",")]
    known = dict(kinds)
    for k in key_cols:
        if k not in known:
            raise ValueError(f"key column {k!r} not in schema")
    split = lambda o: frozenset(
        c.strip() for c in str(options.get(o, "")).split(",") if c.strip())
    return (key_cols, int(options.get("block_rows", 65536)),
            split("text_cols"), split("bloom_cols"),
            split("token_bloom_cols"), split("sketch_cols"))


def _write_task(path: str, kinds, key_cols, block_rows, text_cols,
                bloom_cols, iterator: Iterator,
                prefix: str = "part",
                token_bloom_cols: frozenset = frozenset(),
                sketch_cols: frozenset = frozenset()) -> _Committed:
    """One write task: stream the task's Arrow batches through the
    block encoder, land exactly one parquet part with a unique name
    (retries/speculative attempts never collide — commit reconciles)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId() if TaskContext.get() else 0
    fn = engine.make_encode_fn(kinds, key_cols, block_rows, text_cols,
                               bloom_cols, token_bloom_cols, sketch_cols)

    def tagged():
        # map-only: the task's partition id is the bucket
        for rb in iterator:
            bcol = pa.array([pid] * rb.num_rows, type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                list(rb.columns) + [bcol],
                names=list(rb.schema.names) + ["_bucket"])

    out = list(fn(tagged()))
    fname = f"{prefix}-{pid:05d}-{uuid.uuid4().hex}.parquet"
    if out:
        table = pa.Table.from_batches(out)
        pq.write_table(table, os.path.join(path, fname))
        return _Committed(fname, table.num_rows,
                          sum(table.column("bytes_in").to_pylist()),
                          sum(table.column("bytes_out").to_pylist()))
    return _Committed("", 0, 0, 0)


class OrochWriter(DataSourceArrowWriter):
    """Batch writer with snapshot-style publish semantics:

    - every part file carries a job-unique prefix (``part-<job>-``),
      so concurrent/failed/aborted jobs can never claim or clobber
      each other's files;
    - NOTHING destructive happens before ``commit`` — an aborted or
      crashed overwrite leaves the previous table fully intact (the
      new job's parts are swept by ``abort``/the next commit);
    - ``mode("overwrite")`` replaces the table atomically-enough for
      a single-writer file layout: old files are removed only AFTER
      every task has reported success and the new sidecar is
      published;
    - ``mode("append")`` adds this job's blocks to the existing
      table. The sidecar schema is merged (columns added by this job
      are appended; old blocks null-fill them at decode — the
      engine's schema-evolution contract), key columns must match,
      and appending into a STREAMING sink directory is rejected (its
      committed view is manifest-scoped; batch parts would be
      invisible to manifest readers and resurrect as orphans).
    """

    def __init__(self, options: dict, kinds: list[tuple[str, str]],
                 overwrite: bool):
        self.path = options["path"]
        self.kinds = kinds
        self.overwrite = overwrite
        self.job_id = uuid.uuid4().hex
        (self.key_cols, self.block_rows, self.text_cols,
         self.bloom_cols, self.token_bloom_cols,
         self.sketch_cols) = _parse_write_options(options, kinds)
        os.makedirs(self.path, exist_ok=True)
        self.merged_kinds = list(kinds)
        if not overwrite:
            if glob.glob(os.path.join(self.path, _BATCH_DIR, "*.json")):
                raise ValueError(
                    "append into a streaming oroch sink is not "
                    "supported: the sink's committed view is its batch "
                    "manifests, which a batch append cannot join. Use "
                    "writeStream.format('oroch'), or compact + "
                    "mode('overwrite') to convert it to a batch table.")
            if os.path.exists(os.path.join(self.path, SIDECAR)):
                prev = read_sidecar(self.path)
                if list(prev["key_cols"]) != list(self.key_cols):
                    raise ValueError(
                        f"append key_cols {self.key_cols} != existing "
                        f"table key_cols {prev['key_cols']}")
                old = dict(prev["kinds"])
                for n, k in kinds:
                    if n in old and old[n] != k:
                        raise ValueError(
                            f"append column {n!r} kind {k!r} != "
                            f"existing kind {old[n]!r}")
                new = dict(kinds)
                self.merged_kinds = list(prev["kinds"]) + [
                    (n, k) for n, k in kinds if n not in old]
                missing = [n for n, _ in prev["kinds"] if n not in new]
                if missing:
                    raise ValueError(
                        f"append is missing existing columns {missing}; "
                        "write them (nullable) or overwrite the table")
            elif glob.glob(os.path.join(self.path, "*.parquet")):
                raise ValueError(
                    f"{self.path} holds parquet files but no {SIDECAR}: "
                    "refusing to append into a directory that is not a "
                    "committed oroch table")

    def write(self, iterator: Iterator) -> _Committed:
        return _write_task(self.path, self.kinds, self.key_cols,
                           self.block_rows, self.text_cols,
                           self.bloom_cols, iterator,
                           prefix=f"part-{self.job_id}",
                           token_bloom_cols=self.token_bloom_cols,
                           sketch_cols=self.sketch_cols)

    def commit(self, messages) -> None:
        keep = {m.file for m in messages if m and m.file}
        # sweep THIS JOB's orphans (failed/speculative attempts); other
        # jobs' files are never this job's to delete on the append path
        for f in glob.glob(os.path.join(self.path,
                                        f"part-{self.job_id}-*.parquet")):
            if os.path.basename(f) not in keep:
                os.remove(f)
        stats = {"blocks": sum(m.blocks for m in messages if m),
                 "bytes_in": sum(m.bytes_in for m in messages if m),
                 "bytes_out": sum(m.bytes_out for m in messages if m)}
        with _write_lock(self.path):
            self._commit_locked(keep, stats)

    def _commit_locked(self, keep: set, stats: dict) -> None:
        # under the table's write lock: registry read-modify-write and
        # the orphan sweeps are safe against a concurrent append or
        # compaction committing between our read and our publish
        if self.overwrite:
            # all tasks succeeded: the sidecar swap (with the new file
            # registry) IS the publish; only then drop the replaced
            # snapshot. Files named by the PREVIOUS registry (or any
            # committed stream manifest) were committed table data and
            # go immediately; unreferenced files get the grace period
            # — a fresh one may be a concurrent append's in-flight
            # part (its commit then adds rows onto the NEW table:
            # "append after overwrite" ordering, never a registry
            # naming deleted files).
            replaced = set()
            if os.path.exists(os.path.join(self.path, SIDECAR)):
                replaced.update(read_sidecar(self.path).get("files")
                                or [])
            for mf in _manifest_paths(self.path):
                try:
                    with open(mf) as f:
                        replaced.update(json.load(f)["files"])
                except OSError:
                    pass
            write_sidecar(self.path, self.kinds, self.key_cols,
                          files=sorted(keep))
            for name in replaced - keep:
                p = os.path.join(self.path, name)
                if os.path.exists(p):
                    os.remove(p)
            _sweep_orphans(os.path.join(self.path, "*.parquet"),
                           keep | replaced)
            bdir = os.path.join(self.path, _BATCH_DIR)
            if os.path.isdir(bdir):
                shutil.rmtree(bdir, ignore_errors=True)
        else:
            prev_files = None
            merged = self.merged_kinds
            if os.path.exists(os.path.join(self.path, SIDECAR)):
                prev = read_sidecar(self.path)
                prev_files = prev.get("files")
                # re-merge under the lock: a concurrent append that
                # committed since __init__ may have added columns of
                # its own — keep them (its files carry them). A column
                # BOTH jobs added must agree on kind: our blocks are
                # already written with ours, so a mismatch cannot be
                # papered over — fail this commit (Spark aborts, our
                # unpublished parts are swept) instead of publishing a
                # sidecar that mis-decodes one job's blocks.
                prev_by = dict(prev["kinds"])
                for n, k in self.merged_kinds:
                    if n in prev_by and prev_by[n] != k:
                        raise ValueError(
                            f"append column {n!r} kind {k!r} != "
                            f"kind {prev_by[n]!r} committed by a "
                            "concurrent append")
                merged = list(prev["kinds"]) + [
                    kv for kv in self.merged_kinds
                    if kv[0] not in prev_by]
            if prev_files is None:
                # legacy table without a registry: everything
                # currently on disk (minus this job) was visible
                prev_files = [
                    os.path.basename(f) for f in
                    glob.glob(os.path.join(self.path, "*.parquet"))
                    if not os.path.basename(f)
                    .startswith(f"part-{self.job_id}-")]
            committed = set(prev_files) | keep
            write_sidecar(self.path, merged, self.key_cols,
                          files=sorted(committed))
            # a CRASHED append never published its files: they are
            # invisible to registry readers and swept here, at a later
            # successful commit — but only once older than the grace
            # period, because an unreferenced FRESH part may belong to
            # a concurrent append that has not committed yet (deleting
            # it would make that job publish a registry naming dead
            # files)
            _sweep_orphans(os.path.join(self.path, "part-*.parquet"),
                           committed,
                           own_prefix=f"part-{self.job_id}-")
            succ = os.path.join(self.path, "_SUCCESS")
            if os.path.exists(succ):
                with open(succ) as f:
                    prev = json.load(f)
                for k in stats:
                    stats[k] += int(prev.get(k, 0))
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            json.dump(stats, f)

    def abort(self, messages) -> None:
        # this job's files only — previous table contents are untouched
        for f in glob.glob(os.path.join(self.path,
                                        f"part-{self.job_id}-*.parquet")):
            os.remove(f)


# ---------------------------------------------------------------------------
# Streaming writer
# ---------------------------------------------------------------------------

class OrochStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("oroch")``: the incremental-encode
    contract (`streaming/incremental.py`) as a first-class streaming
    sink. Each micro-batch's tasks encode their Arrow batches with the
    same block kernels and land one parquet part per task; the
    driver-side ``commit`` publishes a per-batch manifest
    ``_batches/<id>.json`` naming the batch's files.

    Exactly-once: block files carry attempt-unique names, so replayed
    batches and speculative tasks never collide; only files named in a
    committed manifest are part of the table (``stream_sink_blocks``
    reads through the manifests), and a batch replayed after a driver
    failure simply rewrites its manifest — the superseded attempt's
    files become orphans and are swept at the next commit. The
    TABLE batch id is allocated (max committed + 1) under the write
    lock and recorded against the checkpoint epoch in the
    ``_batches/_TXN.json`` ledger, so ids stay unique even when
    ``sources.dml`` commits batches between (or during) stream runs;
    a replayed epoch reuses its ledger id. Append-only (the streaming
    contract): re-sent keys appear once per batch until compaction;
    read with latest-wins via
    ``incremental.read_latest(..., inc_blocks=stream_sink_blocks(...))``.

    Single-writer per sink directory, like any file-based streaming
    sink."""

    def __init__(self, options: dict, kinds: list[tuple[str, str]]):
        self.path = options["path"]
        self.kinds = kinds
        (self.key_cols, self.block_rows, self.text_cols,
         self.bloom_cols, self.token_bloom_cols,
         self.sketch_cols) = _parse_write_options(options, kinds)
        os.makedirs(os.path.join(self.path, _BATCH_DIR), exist_ok=True)

    def write(self, iterator: Iterator) -> _Committed:
        return _write_task(self.path, self.kinds, self.key_cols,
                           self.block_rows, self.text_cols,
                           self.bloom_cols, iterator, prefix="stream",
                           token_bloom_cols=self.token_bloom_cols,
                           sketch_cols=self.sketch_cols)

    def commit(self, messages, batchId: int) -> None:
        files = sorted(m.file for m in messages if m and m.file)
        # the lock serializes this publish against a concurrent
        # compact_sink: the version-pointer read-modify-write must see
        # a stable manifest set (the stream itself is single-writer)
        with _write_lock(self.path):
            # the checkpoint epoch `batchId` is NOT the table batch id:
            # a dml.upsert/delete_where between stream runs allocates
            # max+1, and a resumed stream's next epoch would collide
            # with it (two manifests with one batch_id = latest-wins
            # ties resolve arbitrarily). The _TXN ledger maps epoch ->
            # allocated table id (Delta txn-style): a REPLAYED epoch
            # rewrites its original table batch (exactly-once), a new
            # epoch allocates past every committed batch including
            # DML's. With no interleaved DML, id == epoch as before.
            txn = _read_txn(self.path)
            bid = txn.get(str(int(batchId)))
            if bid is None:
                # pre-ledger sink replaying an already-committed epoch:
                # rewrite it in place, the legacy exactly-once
                # behavior. Two guards keep this fallback from firing
                # on anything else. (1) VERSION-VISIBLE set, not raw
                # on-disk existence: with compact_sink(gc=False) a
                # folded manifest deliberately lingers outside the
                # version pointer, and treating it as committed would
                # rewrite + re-add rows the compacted manifest already
                # holds. (2) the matched manifest must LACK an "epoch"
                # field: ledger-era manifests record their epoch (and
                # their epoch is always resolvable via the ledger
                # above), while epoch numbers and batch ids drift once
                # DML interleaves — so a bare filename match can be a
                # DIFFERENT epoch's drifted batch id, and rewriting it
                # would silently drop that batch's rows.
                cand = f"{int(batchId)}.json"
                match = next((m for m in _manifest_paths(self.path)
                              if os.path.basename(m) == cand), None)
                if match is not None:
                    with open(match) as f:
                        mdoc = json.load(f)
                    if "epoch" not in mdoc \
                            or int(mdoc["epoch"]) == int(batchId):
                        # pre-ledger manifest (filename == epoch ==
                        # bid by construction), or a ledger-era
                        # manifest recorded by THIS epoch whose ledger
                        # entry was pruned (checkpoint restored from a
                        # backup older than the pruning slack):
                        # rewrite exactly-once under its original id
                        bid = int(mdoc.get("batch_id", batchId))
                if bid is None and any(int(e) > int(batchId)
                                       for e in txn):
                    # the ledger already holds NEWER epochs, so this is
                    # a replay from a restored checkpoint, not a new
                    # epoch — but its id may have drifted away from its
                    # epoch number, making the filename match above
                    # useless. Find its manifest by recorded epoch (an
                    # O(stream manifests) scan, taken only on this
                    # rare restore path, never on normal commits).
                    for m in _manifest_paths(self.path):
                        stem = os.path.splitext(os.path.basename(m))[0]
                        if not stem.isdigit():
                            continue  # dml-*/compact-* never match
                        with open(m) as f:
                            mdoc = json.load(f)
                        if int(mdoc.get("epoch", -1)) == int(batchId):
                            bid = int(mdoc["batch_id"])
                            break
            if bid is None:
                # past every committed id AND every ledger-reserved one
                # (a prior epoch may have reserved an id, crashed
                # before publish, and not been replayed yet)
                bid = max(_sink_batch_ids(self.path)
                          + [int(v) for v in txn.values()] + [-1]) + 1
            if txn.get(str(int(batchId))) != bid:
                # prune entries for epochs Spark can no longer replay
                # (only the most recent uncommitted epoch is ever
                # replayed; keep a few for slack) — otherwise the
                # ledger accretes one entry per epoch forever and this
                # commit-path rewrite becomes O(total epochs)
                keep_from = int(batchId) - _TXN_KEEP_EPOCHS
                txn = {e: b for e, b in txn.items()
                       if int(e) >= keep_from}
                _write_txn(self.path, {**txn, str(int(batchId)): bid})
            doc = {"batch_id": int(bid), "files": files,
                   "blocks": sum(m.blocks for m in messages if m),
                   "bytes_in": sum(m.bytes_in for m in messages if m),
                   "bytes_out": sum(m.bytes_out for m in messages if m),
                   "epoch": int(batchId)}
            bdir = os.path.join(self.path, _BATCH_DIR)
            tmp = os.path.join(bdir, f".{bid}.{uuid.uuid4().hex}.tmp")
            with open(tmp, "w") as f:
                json.dump(doc, f)
            os.replace(tmp, os.path.join(bdir, f"{bid}.json"))
            _publish_version(self.path, sorted(set(
                [os.path.basename(m)
                 for m in _manifest_paths(self.path)]
                + [f"{bid}.json"])))
            # merge, don't stomp: a dml.delete_where may have evolved
            # the table schema (tombstone column) between micro-batches
            # — rewriting the sidecar with only the stream's columns
            # would orphan every evolved column
            out_kinds = list(self.kinds)
            try:
                have = {n for n, _ in out_kinds}
                out_kinds += [tuple(kv) for kv
                              in read_sidecar(self.path)["kinds"]
                              if kv[0] not in have]
            except FileNotFoundError:
                pass
            write_sidecar(self.path, out_kinds, self.key_cols)
            # sweep orphans (failed attempts, superseded replays): a
            # file is live iff some committed manifest names it. The
            # grace period protects a concurrent compaction's freshly
            # landed stream-compact-* parts, whose manifest publishes
            # moments later under this same lock.
            live = set()
            for mf in _manifest_paths(self.path):
                with open(mf) as f:
                    live.update(json.load(f)["files"])
            _sweep_orphans(os.path.join(self.path, "stream-*.parquet"),
                           live)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m and m.file:
                p = os.path.join(self.path, m.file)
                if os.path.exists(p):
                    os.remove(p)


def stream_sink_blocks(spark, path: str, as_of_batch: int | None = None):
    """Committed blocks of a ``writeStream.format("oroch")`` sink,
    each tagged with its micro-batch id (the exactly-once view: files
    not named by a batch manifest — aborted or in-flight attempts —
    are invisible). Driver-side work is manifest JSON only,
    O(batches); block bytes stay executor-side. Feed the result to
    ``incremental.read_latest(inc_blocks=...)`` for latest-wins
    reads, or ``engine.decode_df`` for the raw append-only view.

    ``as_of_batch`` time-travels: only batches <= it are visible —
    batch manifests double as immutable snapshots (the Iceberg
    as-of-snapshot read against this table layout)."""
    from pyspark.sql import functions as F

    batches = []
    for mf in _manifest_paths(path):
        with open(mf) as f:
            batches.append(json.load(f))
    if as_of_batch is not None:
        batches = [b for b in batches if b["batch_id"] <= as_of_batch]
    pairs = [(f, b["batch_id"]) for b in batches for f in b["files"]]
    if not pairs:
        raise FileNotFoundError(f"no committed stream batches in {path}")
    blocks = spark.read.parquet(*[os.path.join(path, f)
                                  for f, _ in pairs])
    fmap = engine._local_df(spark, T.StructType([
        T.StructField("_file", T.StringType()),
        T.StructField("batch_id", T.LongType())]),
        [list(c) for c in zip(*pairs)])
    return (blocks
            .withColumn("_file", F.element_at(
                F.split(F.input_file_name(), "/"), -1))
            .join(F.broadcast(fmap), "_file").drop("_file"))


def compact_sink(spark, path: str, n_buckets: int = 32,
                 block_rows: int = 65536,
                 latest_wins: bool = True,
                 tombstone_col: Optional[str] = None,
                 retain_from_batch: Optional[int] = None,
                 gc: bool = True) -> dict:
    """Maintenance compaction for a streaming sink: decode the folded
    batches, optionally resolve latest-wins (+ tombstone deletes) once
    and for all, re-encode at full block size, and publish the result
    as ONE batch manifest carrying the highest folded batch id. The
    small-increment debt of the append-only contract
    (`streaming/incremental.py`) is paid here, batch-style — the
    engine's `recompact` applied at the sink boundary.

    **Atomic publish**: the compacted manifest lands under a fresh
    name, then a single ``_VERSION.json`` rename points every reader
    at the new manifest set — a reader racing the compaction resolves
    either the complete old version or the complete new one, never a
    mix. Only then are the superseded manifests and block files
    removed (a reader that resolved the OLD version moments before
    may still want its files: at 100 TB, pass ``gc=False`` and run
    :func:`~oroch_spark.sources.dml.vacuum` later with a grace
    window instead of the immediate GC used by default).

    **Mid-stream readers**: a ``readStream`` whose checkpoint offset
    is inside the folded range would re-deliver already-consumed rows
    (its unread manifests were replaced by one that also contains
    rows it HAS read). Either compact only when all streams are
    caught up past the top batch id, or pass ``retain_from_batch=k``:
    batches >= k are kept as-is and only batches < k fold, so any
    reader at offset >= k is unaffected. With ``retain_from_batch``
    the tombstone column is kept in the output schema (all-False on
    surviving rows) because retained newer batches may still carry
    deletes that must keep resolving at read time.

    Compaction may run WHILE the stream keeps committing: the version
    swap happens under the sink's write lock against a re-listed
    manifest set, so a batch committed during the (long, unlocked)
    re-encode survives — it simply isn't folded this round. Readers
    are safe any time."""
    from pyspark.sql import functions as F

    from ..streaming import incremental as inc

    bdir = os.path.join(path, _BATCH_DIR)
    old_manifests = _manifest_paths(path)
    # sidecar read AFTER the manifest listing: delete_where updates
    # the sidecar before publishing its manifest, so any delete batch
    # in old_manifests is guaranteed visible in this sidecar read
    doc = read_sidecar(path)
    kinds, key_cols = doc["kinds"], doc["key_cols"]
    if tombstone_col is not None and tombstone_col not in dict(kinds):
        # the tombstone column is born with the first delete_where; a
        # uniformly configured maintenance job must work on a table
        # nothing was ever deleted from (same contract as the
        # latest-wins reader and dml.table_changes)
        tombstone_col = None
    retained, folded_mans = [], []
    for mf in old_manifests:
        with open(mf) as f:
            man_doc = json.load(f)
        if retain_from_batch is not None \
                and int(man_doc["batch_id"]) >= retain_from_batch:
            retained.append(os.path.basename(mf))
        else:
            folded_mans.append((mf, man_doc))
    if not folded_mans:
        raise ValueError(f"nothing to compact below "
                         f"batch {retain_from_batch} in {path}")
    as_of = None if retain_from_batch is None else retain_from_batch - 1
    blocks = stream_sink_blocks(spark, path, as_of_batch=as_of)
    top = blocks.agg({"batch_id": "max"}).collect()[0][0]
    if top is None:
        raise ValueError(f"nothing to compact in {path}: the folded "
                         "batches hold no committed rows")
    keep_tomb = tombstone_col is not None and retain_from_batch is not None
    if latest_wins:
        rows = inc.read_latest(spark, None, kinds, key_cols,
                               inc_blocks=blocks,
                               tombstone_col=tombstone_col)
        if keep_tomb:
            rows = rows.withColumn(
                tombstone_col, F.lit(False))  # survivors: not deleted
            out_kinds = kinds
        else:
            out_kinds = [kv for kv in kinds if kv[0] != tombstone_col]
    else:
        rows = engine.decode_df(blocks, kinds)
        out_kinds = kinds
    tmp_dir = os.path.join(path, f".compact-{uuid.uuid4().hex}")
    text_cols = [n for n, k in out_kinds if k == "str"]
    engine.encode_df(rows.select(*[n for n, _ in out_kinds]),
                     key_cols, n_buckets=n_buckets,
                     block_rows=block_rows, text_cols=text_cols) \
        .write.mode("overwrite").parquet(tmp_dir)
    # land the parts at the sink root (the readers' file layout), with
    # stream-part-style unique names
    files = []
    n_blocks = 0
    for f in sorted(glob.glob(os.path.join(tmp_dir, "*.parquet"))):
        import pyarrow.parquet as _pq
        # "blocks" is the encoded BLOCK count (one block per parquet
        # row), the unit stream-batch manifests record
        n_blocks += _pq.ParquetFile(f).metadata.num_rows
        fname = f"stream-compact-{top}-{uuid.uuid4().hex}.parquet"
        os.replace(f, os.path.join(path, fname))
        files.append(fname)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    man = {"batch_id": int(top), "files": files, "blocks": n_blocks,
           "bytes_in": 0, "bytes_out": 0, "compacted": True}
    man_name = f"compact-{top}-{uuid.uuid4().hex}.json"
    tmp = os.path.join(bdir, f".{man_name}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(man, f)
    folded_names = {os.path.basename(mf) for mf, _ in folded_mans}
    # THE publish: one rename swaps the whole manifest set — under the
    # table's write lock, and against a RE-LISTED manifest set: a
    # stream batch committed while the (long, unlocked) re-encode ran
    # is not in `retained` from the pre-scan and must survive the swap
    with _write_lock(path):
        os.replace(tmp, os.path.join(bdir, man_name))
        current = {os.path.basename(m) for m in _manifest_paths(path)}
        keep_mans = sorted((current - folded_names) | {man_name})
        _publish_version(path, keep_mans)
        # GC superseded manifests + their (now-unreferenced) files.
        # gc=False defers this to dml.vacuum(): the folded manifests
        # are already outside the version pointer (invisible), their
        # files merely occupy space until the grace window passes —
        # the safe mode when readers may hold the old version.
        if gc:
            live = set(files)
            for name in keep_mans:
                if name == man_name:
                    continue
                with open(os.path.join(bdir, name)) as f:
                    live.update(json.load(f)["files"])
            for mf, man_doc in folded_mans:
                os.remove(mf)
                for fn in man_doc["files"]:
                    p = os.path.join(path, fn)
                    if fn not in live and os.path.exists(p):
                        os.remove(p)
        if latest_wins and tombstone_col is not None and not keep_tomb:
            write_sidecar(path, out_kinds, key_cols)
    return man


# ---------------------------------------------------------------------------
# Streaming reader
# ---------------------------------------------------------------------------

class _BatchFilePartition(InputPartition):
    def __init__(self, file: str):
        self.file = file


class OrochStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("oroch")`` over a streaming-sink
    directory: every committed batch manifest is a source offset, each
    micro-batch decodes the block files of the newly committed batches
    — the downstream half of an encoded CDC pipeline (encode upstream
    with ``writeStream.format("oroch")``, transform downstream as a
    stream of decoded rows, exactly-once end to end via the two
    checkpoints).

    Offsets are ``{"batch": n}`` = "batches < n consumed"; a
    micro-batch covers manifests in [start, end). Partition = one
    block parquet file (decode is executor-side and embarrassingly
    parallel); the driver reads manifest JSON only."""

    def __init__(self, options: dict, kinds: list[tuple[str, str]]):
        self.path = options["path"]
        self.kinds = kinds
        self.schema_bytes = _arrow_schema_bytes(kinds)

    def _manifests(self) -> dict[int, list[str]]:
        out = {}
        for mf in _manifest_paths(self.path):
            with open(mf) as f:
                doc = json.load(f)
            out[int(doc["batch_id"])] = doc["files"]
        return out

    def initialOffset(self) -> dict:
        return {"batch": 0}

    def latestOffset(self) -> dict:
        mans = self._manifests()
        return {"batch": (max(mans) + 1) if mans else 0}

    def partitions(self, start: dict, end: dict):
        mans = self._manifests()
        files = [f for b in range(int(start["batch"]), int(end["batch"]))
                 for f in mans.get(b, ())]
        # never an empty plan: a zero-file offset range (e.g. an epoch
        # that committed no rows) gets one empty-scan sentinel so Spark
        # doesn't hand read() a None partition
        return ([_BatchFilePartition(os.path.join(self.path, f))
                 for f in files] or [_BatchFilePartition(None)])

    def read(self, partition: _BatchFilePartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if partition is None or partition.file is None:
            return  # empty-scan sentinel
        out_schema = pa.ipc.read_schema(pa.py_buffer(self.schema_bytes))
        tbl = pq.read_table(partition.file,
                            columns=["n", "payload", "desc"])
        for blk in engine._read_blocks(tbl):
            yield blk.batch(out_schema)

    def commit(self, end: dict) -> None:
        pass  # manifests are permanent; the stream checkpoint is enough


# ---------------------------------------------------------------------------
# DataSource
# ---------------------------------------------------------------------------

class OrochDataSource(DataSource):
    """``format("oroch")``: read/write encoded blocks tables."""

    @classmethod
    def name(cls) -> str:
        return "oroch"

    def schema(self):
        doc = read_sidecar(self.options["path"])
        kinds = _reader_view_kinds(self.options, doc["kinds"])
        return T.StructType([
            T.StructField(n, engine.spark_type_of(k))
            for n, k in kinds])

    def reader(self, schema) -> OrochReader:
        doc = read_sidecar(self.options["path"])
        return OrochReader(self.options, doc["kinds"], doc["key_cols"],
                           doc.get("files"))

    def writer(self, schema, overwrite: bool) -> OrochWriter:
        kinds = engine.column_kinds(schema)
        return OrochWriter(self.options, kinds, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> OrochStreamWriter:
        kinds = engine.column_kinds(schema)
        return OrochStreamWriter(self.options, kinds)

    def streamReader(self, schema) -> OrochStreamReader:
        doc = read_sidecar(self.options["path"])
        return OrochStreamReader(self.options,
                                 _projected_kinds(self.options,
                                                  doc["kinds"]))


def register(spark, filter_pushdown: bool = True) -> None:
    """Make ``format("oroch")`` available on this session (and enable
    Python-data-source filter pushdown, off by default in Spark 4.1).

    **Upstream caveat (Spark 4.1 Python DataSource + pushdown):**
    Spark caches the planned scan (pickled reader + partition list) on
    the shared relation of a LOADED DataFrame and a filtered query
    REPLACES that cache, so running a filtered query and then an
    unfiltered/different query on the SAME ``spark.read...load()``
    result replays the stale filtered scan — silently wrong rows.
    This reader keeps all filter state per-plan (in the partitions it
    returns), so the defect is purely the engine-side cache; until it
    is fixed upstream, either re-load per query (cheap — planning
    reads the block index, cached per table version; the driver/oracle
    harness and every test here do this) or pass
    ``filter_pushdown=False`` to keep filters JVM-side."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled",
                   "true" if filter_pushdown else "false")
    spark.dataSource.register(OrochDataSource)
