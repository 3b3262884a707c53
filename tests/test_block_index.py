"""The driver-side block index (``engine._BlockIndex``), the one prune
evaluator of every builder.

- a bare parquet scan of a blocks table is read with pyarrow and
  cached; any other frame (``select("*")``, a filter, a union, a cached
  or unpersisted encode) is collected in one Spark job, and every frame
  gives the brute-force answers — a frame whose reads may differ (an
  unpersisted encode with tied keys) is pinned, so its index and its
  payload come from one read;
- it is checked against the files on every use, and a collected index
  is never reused: a file rewritten in place between two queries on
  one DataFrame gives the new answer;
- odd layouts — a legacy file without ``key_slo``/``key_shi``, two
  files repeating a ``(bucket, block_idx)``, old and new files in one
  directory — give the brute-force answers, and repeated ids never
  count a block twice;
- on a bare scan, metadata-only answers run no Spark job, and neither
  do boundary blocks, lookups and top-k whose kept row groups fit one
  input split (they are read and decoded on the driver); a smaller
  split reads them in one job, and any other frame adds the collect
  job;
- the index never mixes two versions of a file: a file rewritten
  while the index, a ``desc`` loaded later or the kept blocks are read
  gives the new file's answer.
"""
import contextlib
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from oroch_spark import engine

N = 1000
RANGES = [(150, 449), (200, 399), (5000, 6000), (-50, 2000)]


def _sval(i):
    return f"s{i:04d}"


KEY = {"k": lambda i: i, "s": _sval}


def _source(lo=0, hi=N, shift=0):
    ks = list(range(lo, hi))
    return pa.table({
        "k": pa.array(ks, pa.int64()),
        "s": pa.array([_sval(i) for i in ks]),
        "v": pa.array([(i * 7 + shift) % 501 for i in ks], pa.int64()),
        "u": pa.array([None if i % 10 == 3 else i * 2 for i in ks],
                      pa.int64()),
    })


def _blocks(spark, t, key, **kw):
    """The encoded blocks of ``t`` as an Arrow table: one bucket, so
    every block holds a contiguous run of keys."""
    return engine.encode_df(spark.createDataFrame(t), [key], n_buckets=1,
                            block_rows=100, sketch_cols=["v"],
                            **kw).toArrow()


def _write(t, path, drop=()):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(t.drop_columns(list(drop)), path)


def _brute(t, kc):
    key = KEY[kc]
    k = t["k"].to_pylist()
    rows = lambda keys: sorted(i for i in k if i in keys)  # noqa: E731
    out = {"hit": rows({123}), "miss": [],
           "in": rows({5, 505}), "in_miss": []}
    for lo, hi in RANGES:
        sel = t.filter(pc.and_(pc.greater_equal(t["k"], lo),
                               pc.less_equal(t["k"], hi)))["v"]
        out[("count", lo, hi)] = len(sel)
        out[("agg", lo, hi)] = (len(sel), pc.sum(sel).as_py(),
                                pc.min(sel).as_py(), pc.max(sel).as_py())
    v = t["v"]
    in_v = pc.and_(pc.greater_equal(v, 100), pc.less_equal(v, 200))
    out["cw"] = pc.sum(in_v.cast(pa.int64())).as_py()
    sel = t.filter(in_v)["k"]
    out["aw"] = (len(sel), pc.sum(sel).as_py(), pc.min(sel).as_py(),
                 pc.max(sel).as_py())
    out["cwm"] = t.filter(pc.and_(
        pc.and_(pc.greater_equal(t["k"], 100), pc.less_equal(t["k"], 700)),
        pc.less_equal(v, 250))).num_rows
    out["nulls"] = t["u"].null_count
    stats = [("k", min(k), max(k), None, None),
             ("s", None, None, min(t["s"].to_pylist()),
              max(t["s"].to_pylist())),
             ("v", pc.min(v).as_py(), pc.max(v).as_py(), None, None),
             ("u", None, None, None, None)]
    out["stats"] = sorted((c, t.num_rows, t[c].null_count, a, b, x, y)
                          for c, a, b, x, y in stats)
    out["topk"] = sorted(k, reverse=True)[:7]
    out["topk_asc"] = sorted(k)[:7]
    out["topk_by"] = sorted(v.to_pylist(), reverse=True)[:5]
    out["ndv"] = len(pc.unique(v))
    out["aq"] = [pc.min(v).as_py(), pc.max(v).as_py()]
    out["rs"] = rows(set(range(150, 181)))
    out["sw"] = sorted(t.filter(pc.and_(pc.greater_equal(v, 100),
                                        pc.less_equal(v, 120)))["k"]
                       .to_pylist())
    out["lw"] = sorted(t.filter(pc.equal(v, 250))["k"].to_pylist())
    return key, out


def _answers(blocks, kinds, kc):
    key = KEY[kc]
    ids = lambda df: sorted(r.k for r in df.collect())  # noqa: E731
    out = {"hit": ids(engine.lookup(blocks, kinds, kc, key(123))),
           "miss": ids(engine.lookup(blocks, kinds, kc, key(5000))),
           "in": ids(engine.lookup_in(blocks, kinds, kc,
                                      [key(5), key(505), key(5000)])),
           "in_miss": ids(engine.lookup_in(blocks, kinds, kc,
                                           [key(5000), key(6000)]))}
    for lo, hi in RANGES:
        out[("count", lo, hi)] = engine.range_count(
            blocks, kinds, kc, key(lo), key(hi)).first().n_rows
        out[("agg", lo, hi)] = tuple(engine.range_agg(
            blocks, kinds, kc, key(lo), key(hi), "v").first())
    out["cw"] = engine.count_where(blocks, kinds, "v", 100, 200) \
        .first().n_rows
    out["aw"] = tuple(engine.agg_where(blocks, kinds, "v", 100, 200, "k")
                      .first())
    out["cwm"] = engine.count_where_multi(
        blocks, kinds, [("k", 100, 700), ("v", 0, 250)]).first().n_rows
    out["nulls"] = engine.null_count(blocks, kinds, "u").first().n_nulls
    out["stats"] = sorted(tuple(r) for r in
                          engine.table_stats(blocks, kinds).collect())
    out["topk"] = [r.k for r in engine.topk_key(blocks, kinds, kc, 7)
                   .collect()]
    out["topk_asc"] = [r.k for r in engine.topk_key(
        blocks, kinds, kc, 7, ascending=True).collect()]
    out["topk_by"] = [r.v for r in engine.topk_by(blocks, kinds, "v", 5)
                      .collect()]
    out["ndv"] = engine.approx_distinct(blocks, "v").first().approx_ndv
    out["aq"] = [r.value for r in
                 engine.approx_quantile(blocks, "v", [0.0, 1.0]).collect()]
    out["rs"] = ids(engine.range_scan(blocks, kinds, kc, key(150),
                                      key(180)))
    out["sw"] = ids(engine.scan_where(blocks, kinds, "v", 100, 120))
    out["lw"] = ids(engine.lookup_where(blocks, kinds, "v", 250))
    return out


def _check(got, want):
    ndv, exact = got.pop("ndv"), want.pop("ndv")
    assert abs(ndv - exact) <= 0.05 * exact
    assert got == want


def _kinds(spark):
    return engine.column_kinds(spark.createDataFrame(_source(0, 1)).schema)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ix") / "t" / "part-0.parquet")
    _write(_blocks(spark, _source(), "k"), path)
    return os.path.dirname(path)


def test_plain_scan_and_fallbacks_match_brute_force(spark, table):
    kinds = _kinds(spark)
    scan = spark.read.parquet(table)
    assert engine._BlockIndex.of(scan) is not None
    _, want = _brute(_source(), "k")
    others = {"select": scan.select("*"),
              "filter": scan.filter("n > 0"),
              "union": scan.filter("block_idx < 5")
              .union(scan.filter("block_idx >= 5")),
              "encode": engine.encode_df(
                  spark.createDataFrame(_source()), ["k"], n_buckets=1,
                  block_rows=100, sketch_cols=["v"])}
    cached = spark.read.parquet(table).cache()
    others["cached"] = cached
    for name, frame in {"scan": scan, **others}.items():
        assert engine._BlockIndex.of(frame) is not None, name
        _check(_answers(frame, kinds, "k"), dict(want))
    cached.unpersist()


def test_frame_whose_reads_differ_is_read_once(spark):
    """Keys that tie across block boundaries: which block holds which
    tied row is the order the encode's sort sees them in, which for an
    unpersisted encode is the shuffle's fetch and spill-merge order and
    may change between reads. Here the source emits its rows in a
    fresh random order on every read, so it always does. A builder
    that indexes the frame and then reads its payload must see one
    read; every answer matches brute force."""
    n, g = 1500, 150  # key k = i // g: every key spans a block boundary
    t = pa.table({"k": pa.array([i // g for i in range(n)], pa.int64()),
                  "v": pa.array(range(n), pa.int64()),
                  "h": pa.array([int(i % g == 7) for i in range(n)],
                                pa.int64())})

    def shuffled(batches):
        import random

        for b in batches:
            order = list(range(b.num_rows))
            random.shuffle(order)
            yield b.take(order)

    src = spark.createDataFrame(t)
    src = src.repartition(3).mapInArrow(shuffled, src.schema)
    kinds = engine.column_kinds(src.schema)
    enc = engine.encode_df(src, ["k"], n_buckets=1, block_rows=100,
                           bloom_cols=["h"])
    assert not engine._stored(enc)
    assert engine._stored(spark.createDataFrame(t).select("*"))
    v, h = t["v"].to_pylist(), t["h"].to_pylist()

    def agg(xs):
        return (len(xs), sum(xs), min(xs), max(xs))

    hot = [x for x, y in zip(v, h) if y == 1]
    for _ in range(3):
        assert tuple(engine.agg_where(enc, kinds, "h", 1, 1, "v")
                     .first()) == agg(hot)
        assert engine.count_where(enc, kinds, "h", 0, 0).first().n_rows \
            == n - len(hot)
        assert tuple(engine.range_agg(enc, kinds, "k", 2, 4, "v")
                     .first()) == agg(v[2 * g:5 * g])
        assert sorted(r.v for r in engine.scan_where(
            enc, kinds, "h", 1, 1).collect()) == hot
        assert sorted(r.v for r in engine.lookup_where(
            enc, kinds, "h", 1).collect()) == hot
        assert [r.v for r in engine.topk_by(enc, kinds, "v", 3)
                .collect()] == [n - 1, n - 2, n - 3]


def test_job_budget_on_a_plain_scan(spark, table, jobs, split_below):
    kinds = _kinds(spark)
    b = spark.read.parquet(table)
    e = engine
    none = {
        "approx_distinct": lambda: e.approx_distinct(b, "v"),
        "lookup_miss": lambda: e.lookup(b, kinds, "k", 5000),
        "lookup_in_miss": lambda: e.lookup_in(b, kinds, "k", [5000, 6000]),
        "null_count": lambda: e.null_count(b, kinds, "u"),
        "table_stats": lambda: e.table_stats(b, kinds),
        "range_count": lambda: e.range_count(b, kinds, "k", 200, 399),
        "range_agg": lambda: e.range_agg(b, kinds, "k", 200, 399, "v"),
    }
    one = {
        "topk_key": lambda: e.topk_key(b, kinds, "k", 7),
        "range_agg_boundary": lambda: e.range_agg(b, kinds, "k", 150, 449,
                                                  "v"),
        "lookup_hit": lambda: e.lookup(b, kinds, "k", 123),
    }
    # the kept blocks fit one input split: read on the driver, no job
    for name, build in {**none, **one}.items():
        assert jobs(lambda: build().collect()) == 0, name
    # a split smaller than the kept bytes: one job reads the blocks
    with split_below(b):
        for want, builders in ((0, none), (1, one)):
            for name, build in builders.items():
                assert jobs(lambda: build().collect()) == want, name
    # any other frame collects its index first and reads its blocks in
    # Spark: one more job each
    b = spark.read.parquet(table).select("*")
    for want, builders in ((1, none), (2, one)):
        for name, build in builders.items():
            assert jobs(lambda: build().collect()) == want, name


def test_rewritten_file_gives_the_new_answer(spark, tmp_path):
    _rewrite_and_check(spark, tmp_path, lambda scan: scan)


def test_collected_index_is_never_reused(spark, tmp_path):
    _rewrite_and_check(spark, tmp_path, lambda scan: scan.select("*"))


def _rewrite_and_check(spark, tmp_path, frame):
    kinds = _kinds(spark)
    path = str(tmp_path / "t" / "part-0.parquet")
    _write(_blocks(spark, _source(), "k"), path)
    scan = frame(spark.read.parquet(os.path.dirname(path)))
    assert engine.table_stats(scan, kinds, ["k"]).first().n_rows == N
    assert engine.range_count(scan, kinds, "k", 200, 399).first()[0] == 200
    assert [r.k for r in engine.lookup(scan, kinds, "k", 700).collect()] \
        == [700]
    # the same path, other content: half the rows and other values
    new = _source(0, N // 2, shift=3)
    _write(_blocks(spark, new, "k"), path)
    _, want = _brute(new, "k")
    assert engine.table_stats(scan, kinds, ["k"]).first().n_rows == N // 2
    assert engine.range_count(scan, kinds, "k", 200, 399).first()[0] == 200
    assert engine.range_count(scan, kinds, "k", 450, 1000).first()[0] \
        == 50
    assert engine.lookup(scan, kinds, "k", 700).collect() == []
    assert tuple(engine.range_agg(scan, kinds, "k", -50, 2000, "v")
                 .first()) == want[("agg", -50, 2000)]


def _rewritten_later(spark, tmp_path):
    """(scan, path, the new file's blocks, the new source): a one-file
    table whose index a lookup has cached without ``desc``, and the
    half-size table the test rewrites it with."""
    kinds = _kinds(spark)
    path = str(tmp_path / "t" / "part-0.parquet")
    _write(_blocks(spark, _source(), "k"), path)
    scan = spark.read.parquet(os.path.dirname(path))
    assert [r.k for r in engine.lookup(scan, kinds, "k", 700).collect()] \
        == [700]
    new = _source(0, N // 2, shift=3)
    return scan, path, _blocks(spark, new, "k"), new


def test_file_rewritten_while_desc_loads(spark, tmp_path, monkeypatch):
    """The index is cached without ``desc``; the file is rewritten,
    with half the blocks, just before a later query reads ``desc``.
    The index is read anew from the new file, never the old ``n`` and
    bounds with the new descriptors."""
    scan, path, new_blocks, new = _rewritten_later(spark, tmp_path)
    stock, done = engine._read_index, []

    def rewrite_then_read(files, cols=engine._INDEX_COLS):
        if cols == ("desc",) and not done:
            done.append(path)
            _write(new_blocks, path)
        return stock(files, cols)

    monkeypatch.setattr(engine, "_read_index", rewrite_then_read)
    got = sorted(tuple(r) for r in
                 engine.table_stats(scan, _kinds(spark)).collect())
    assert done and got == _brute(new, "k")[1]["stats"]


def test_file_rewritten_while_blocks_are_read(spark, tmp_path,
                                              monkeypatch):
    """A lookup reads its kept block on the driver, and the file is
    rewritten right after that read. The stats checked after it send
    the lookup to Spark, which reads the new file: a key that only the
    old file holds is not found."""
    scan, path, new_blocks, _ = _rewritten_later(spark, tmp_path)
    stock, done = pq.ParquetFile.read_row_group, []

    def read_then_rewrite(self, *a, **kw):
        out = stock(self, *a, **kw)
        if not done:
            done.append(path)
            _write(new_blocks, path)
        return out

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", read_then_rewrite)
    assert engine.lookup(scan, _kinds(spark), "k", 700).collect() == []
    assert done


@pytest.mark.parametrize("layout", ["legacy", "repeated_ids", "mixed"])
def test_odd_layouts_match_brute_force(spark, tmp_path, layout):
    kinds = _kinds(spark)
    root = str(tmp_path / layout)
    legacy = ("key_slo", "key_shi")
    if layout == "legacy":
        _write(_blocks(spark, _source(), "s"), f"{root}/part-0.parquet",
               drop=legacy)
    else:
        old = _blocks(spark, _source(0, N // 2), "s")
        new = _blocks(spark, _source(N // 2, N), "s")
        if layout == "mixed":  # distinct block ids, one legacy file
            new = new.set_column(
                new.schema.get_field_index("block_idx"), "block_idx",
                pc.add(new["block_idx"], 100))
        _write(old, f"{root}/part-0.parquet",
               drop=legacy if layout == "mixed" else ())
        _write(new, f"{root}/part-1.parquet")
    scan = spark.read.parquet(root)
    ix = engine._BlockIndex.of(scan)
    assert ix is not None and ix.repeated == (layout == "repeated_ids")
    _, want = _brute(_source(), "s")
    _check(_answers(scan, kinds, "s"), want)


def test_repeated_ids_never_count_a_block_twice(spark, tmp_path,
                                                split_below):
    """Two encodes whose ``(bucket, block_idx)`` repeat, the second
    shifted by half a block: a block one of them answers from metadata
    shares its id with a boundary block of the other, so the split
    must send every kept block to the kernel. Run as a union (collected
    index), and as one directory (cached index) whose kept blocks are
    read on the driver by position, and in Spark by id."""
    kinds = _kinds(spark)
    a, b = _source(), _source(50, N + 50)
    for i, t in enumerate((a, b)):
        _write(_blocks(spark, t, "k"), str(tmp_path / f"part-{i}.parquet"))
    read = lambda i: spark.read.parquet(  # noqa: E731
        str(tmp_path / f"part-{i}.parquet"))
    union = read(0).union(read(1))
    scan = spark.read.parquet(str(tmp_path))
    both = pa.concat_tables([a, b])
    _, want = _brute(both, "k")
    truth = {}
    for x in both["v"].to_pylist():
        truth[x] = truth.get(x, 0) + 1
    for frame, split in ((union, None), (scan, None), (scan, scan)):
        assert engine._BlockIndex.of(frame).repeated
        with split_below(split) if split else contextlib.nullcontext():
            _check(_answers(frame, kinds, "k"), dict(want))
        for r in engine.approx_topk(frame, "v", k=5, kind="int").collect():
            assert r.count_lo <= truth[r.value] <= r.count_hi


def test_extra_stored_columns_keep_the_cached_index(spark, tmp_path, jobs):
    """A bare scan of a table persisted with extra stored columns
    still reads the cached index, so metadata-only answers run no
    job."""
    kinds = _kinds(spark)
    path = str(tmp_path / "stat_cols")
    st = engine._col_stats("v")
    engine.encode_df(
        spark.createDataFrame(_source()), ["k"], n_buckets=1,
        block_rows=100).withColumn("v__lo", st["lo"]) \
        .withColumn("v__hi", st["hi"]).write.parquet(path)
    scan = spark.read.parquet(path)
    assert "v__lo" in scan.columns
    assert engine._scan_files(scan) is not None
    assert jobs(lambda: engine.table_stats(scan, kinds).collect()) == 0
    assert engine.table_stats(scan, kinds, ["k"]).first().n_rows == N


def test_lookup_where_prunes_by_bloom(spark, tmp_path, jobs):
    """An uncorrelated column spans the whole domain in every block, so
    only the Bloom can skip: a value inside every block's bounds but in
    none of them runs no job, and a present one reads few blocks."""
    h = [(i * 7919) % 4001 * 2 for i in range(N)]  # even values only
    t = pa.table({"k": pa.array(range(N), pa.int64()),
                  "h": pa.array(h, pa.int64())})
    path = str(tmp_path / "bloom")
    engine.encode_df(spark.createDataFrame(t), ["k"], n_buckets=1,
                     block_rows=100, bloom_cols=["h"]).write.parquet(path)
    kinds = engine.column_kinds(spark.createDataFrame(t).schema)
    for frame in (spark.read.parquet(path),
                  spark.read.parquet(path).select("*")):
        ix = engine._BlockIndex.of(frame)
        assert all(lo < 1001 and 3001 < hi for lo, hi in
                   (ix.stats(i, "h", 0) for i in range(len(ix))))
        # an odd value: in no block, though inside every block's bounds
        absent = next(x for x in range(1001, 3001, 2) if not ix.keep(
            lambda i: ix.bloom(i, "h", x, engine.K_I64)))
        base = jobs(lambda: engine._BlockIndex.of(frame))
        out = []
        assert jobs(lambda: out.append(engine.lookup_where(
            frame, kinds, "h", absent).collect())) == base
        assert out == [[]]
        assert [r.k for r in engine.lookup_where(frame, kinds, "h", h[321])
                .collect()] == [i for i, x in enumerate(h) if x == h[321]]
        keep = ix.keep(lambda i: ix.bloom(i, "h", h[321], engine.K_I64))
        assert len(keep) <= 3


def test_null_lead_keys_never_count_as_inside(spark, tmp_path):
    """A block whose key bounds sit inside the range but whose key has
    nulls is a boundary block: the bounds skip nulls, and a null key
    never matches."""
    df = spark.createDataFrame(
        [(None if i % 5 == 0 else i, i) for i in range(100)],
        "k long, v long")
    kinds = engine.column_kinds(df.schema)
    path = str(tmp_path / "nullkey")
    engine.encode_df(df, ["k"], n_buckets=1, block_rows=50) \
        .write.parquet(path)
    scan = spark.read.parquet(path)
    keys = [i for i in range(100) if i % 5]
    for blocks in (scan, scan.select("*")):
        assert engine.range_count(blocks, kinds, "k", -10, 1000) \
            .first().n_rows == len(keys)
        assert tuple(engine.range_agg(blocks, kinds, "k", -10, 1000, "v")
                     .first()) == (len(keys), sum(keys), 1, 99)
