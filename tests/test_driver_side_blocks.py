"""Kept blocks read and decoded on the driver (``_BlockIndex.local``)
give the answers the same builders give when Spark reads the blocks.

On a bare scan whose kept row groups fit one input split, lookups, scans,
boundary partials, ``group_count``/``distinct_values`` and top-k run
their kernel in-process and fold on the driver; with
``spark.sql.files.maxPartitionBytes`` below those row groups they run
in Spark. Both must agree with Spark's own semantics: top-k sorts
nulls first ascending and last descending with NaN above every
number, and float group keys fold ``-0.0`` into ``0.0`` with one NaN
group and one null group. The driver reads only the row groups that
hold kept blocks, so a corrupt row group elsewhere never stops it.
It reads at most what Spark would give one task (the scan's split
size), and a group count or scan whose answer passes one Arrow batch
runs in Spark.
"""
import json
import math
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from oroch_spark import engine

N = 600
SPECIAL = [None, float("nan"), -0.0, 0.0, float("inf"), float("-inf")]


def _f(i):
    return SPECIAL[i % 23] if i % 23 < len(SPECIAL) else float(i % 9) - 4


@pytest.fixture(scope="module")
def floats(spark, tmp_path_factory):
    """(source frame, kinds, bare scan): float64 and float32 columns
    holding nulls, NaN, both zeros and both infinities, spread over six
    100-row blocks."""
    t = pa.table({"k": pa.array(range(N), pa.int64()),
                  "f": pa.array([_f(i) for i in range(N)], pa.float64()),
                  "g": pa.array([_f(i * 7) for i in range(N)],
                                pa.float32())})
    src = spark.createDataFrame(t)
    path = str(tmp_path_factory.mktemp("floats") / "blocks")
    engine.encode_df(src, ["k"], n_buckets=1, block_rows=100) \
        .write.parquet(path)
    return src, engine.column_kinds(src.schema), spark.read.parquet(path)


def _key(x):
    """A float comparable across runs: NaN and null by name, and the
    zeros as one (Spark ties them, in any order)."""
    if x is None:
        return "null"
    return "nan" if math.isnan(x) else x + 0.0


@pytest.mark.parametrize("col", ["f", "g"])
def test_topk_by_float_with_nan_and_nulls(floats, jobs, split_below, col):
    src, kinds, scan = floats
    for asc in (True, False):
        order = F.asc(col) if asc else F.desc(col)
        for k in (3, 40, N):
            want = [_key(r[0]) for r in
                    src.select(col).orderBy(order).limit(k).collect()]
            out = []
            assert jobs(lambda: out.append(engine.topk_by(
                scan, kinds, col, k, ascending=asc).collect())) == 0
            with split_below(scan):
                out.append(engine.topk_by(scan, kinds, col, k,
                                          ascending=asc).collect())
            for got in out:
                assert [_key(r[col]) for r in got] == want, (asc, k)


@pytest.mark.parametrize("col", ["f", "g"])
def test_group_count_folds_float_keys(floats, jobs, split_below, col):
    src, kinds, scan = floats
    want = {_key(r[0]): r[1] for r in src.groupBy(col).count().collect()}
    assert {"null", "nan", 0.0} <= set(want)
    answers = []
    assert jobs(lambda: answers.append((
        engine.group_count(scan, kinds, col).collect(),
        engine.distinct_values(scan, kinds, col).collect()))) == 0
    with split_below(scan):
        answers.append((engine.group_count(scan, kinds, col).collect(),
                        engine.distinct_values(scan, kinds, col).collect()))
    for counts, values in answers:
        assert len(counts) == len(want) == len(values)
        assert {_key(r[col]): r.n_rows for r in counts} == want
        assert {_key(r[col]) for r in values} == set(want)
        zero = next(r[col] for r in counts if r[col] == 0)
        assert math.copysign(1.0, zero) == 1.0


def test_corrupt_row_group_outside_the_kept_set(spark, tmp_path, jobs):
    """A blocks file of five row groups, two blocks each, whose first
    row group has a corrupt payload chunk (its first byte, the page
    header, found from the footer). A lookup of a key in another row
    group reads only that one on the driver and answers with no job;
    a full group_count reads the corrupt one and fails."""
    t = pa.table({"k": pa.array(range(1000), pa.int64()),
                  "s": [f"s{i % 13}" for i in range(1000)]})
    src = spark.createDataFrame(t)
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["k"], n_buckets=1, block_rows=100) \
        .toArrow().sort_by("block_idx")
    path = str(tmp_path / "rg" / "part-0.parquet")
    os.makedirs(os.path.dirname(path))
    pq.write_table(blocks, path, row_group_size=2)
    meta = pq.ParquetFile(path).metadata
    assert meta.num_row_groups == 5
    rg = meta.row_group(0)
    chunk = next(rg.column(j) for j in range(rg.num_columns)
                 if rg.column(j).path_in_schema == "payload")
    at = chunk.dictionary_page_offset if chunk.has_dictionary_page \
        else chunk.data_page_offset
    with open(path, "r+b") as fh:
        fh.seek(at)
        byte = fh.read(1)[0]
        fh.seek(at)
        fh.write(bytes([byte ^ 0xFF]))
    scan = spark.read.parquet(os.path.dirname(path))
    out = []
    assert jobs(lambda: out.append(
        engine.lookup(scan, kinds, "k", 777).collect())) == 0
    assert [(r.k, r.s) for r in out[0]] == [(777, "s10")]
    with pytest.raises(Exception):
        engine.group_count(scan, kinds, "s").collect()


def test_sum_counts_folds_within_its_limit():
    """Pending pairs fold whenever they pass the limit; the sums are
    exact while they stay within it, and None once they do not."""
    schema = pa.schema([("v", pa.int64()), ("n_rows", pa.int64())])
    batches = [pa.record_batch([pa.array(range(5), pa.int64()),
                                pa.array([1] * 5, pa.int64())],
                               schema=schema) for _ in range(10)]
    sums = engine._sum_counts(iter(batches), schema, 7)
    assert sorted(zip(*sums.to_pydict().values())) == \
        [(v, 10) for v in range(5)]
    assert engine._sum_counts(iter(batches), schema, 4) is None


def test_group_count_past_one_arrow_batch_runs_in_spark(spark, tmp_path,
                                                        jobs):
    """A group_count whose answer has more values than one Arrow batch
    holds (``spark.sql.execution.arrow.maxRecordsPerBatch``) is not
    built on the driver: a unique key sums in Spark, while a
    low-cardinality column of the same scan still runs no job."""
    rows = spark._jsparkSession.sessionState().conf() \
        .arrowMaxRecordsPerBatch() + 500
    t = pa.table({"k": pa.array(range(rows), pa.int64()),
                  "s": [f"s{i % 7}" for i in range(rows)]})
    src = spark.createDataFrame(t)
    kinds = engine.column_kinds(src.schema)
    path = str(tmp_path / "wide")
    engine.encode_df(src, ["k"], n_buckets=1, block_rows=2048) \
        .write.parquet(path)
    scan = spark.read.parquet(path)
    out = []
    assert jobs(lambda: out.append(
        engine.group_count(scan, kinds, "k").collect())) > 0
    assert sorted((r.k, r.n_rows) for r in out[0]) == \
        [(i, 1) for i in range(rows)]
    assert sorted(r.k for r in engine.distinct_values(
        scan, kinds, "k").collect()) == list(range(rows))
    assert jobs(lambda: out.append(
        engine.group_count(scan, kinds, "s").collect())) == 0
    assert sorted((r.s, r.n_rows) for r in out[1]) == \
        [(f"s{i}", len(range(i, rows, 7))) for i in range(7)]


def test_scans_past_one_arrow_batch_run_in_spark(spark, tmp_path, jobs):
    """A scan builder whose answer has more rows than one Arrow batch
    holds is not built on the driver: a whole-table ``range_scan``, wide
    ``scan_where(_multi)``, a ``grep_where`` on a word of every row and
    a ``lookup_where`` on a common value read the blocks in one Spark
    job with the exact rows, while narrow ones on the same scan still
    run no job."""
    rows = engine._batch_rows(spark) + 500
    t = pa.table({"k": pa.array(range(rows), pa.int64()),
                  "v": pa.array([i % 100 for i in range(rows)], pa.int64()),
                  "c": pa.array([int(i % 50 == 0) for i in range(rows)],
                                pa.int64()),
                  "s": [f"w{i % 100} x" for i in range(rows)]})
    src = spark.createDataFrame(t)
    kinds = engine.column_kinds(src.schema)
    path = str(tmp_path / "wide")
    engine.encode_df(src, ["k"], n_buckets=1, block_rows=2048) \
        .write.parquet(path)
    scan = spark.read.parquet(path)
    e = engine
    wide = {
        "range_scan": (lambda: e.range_scan(scan, kinds, "k", 0, rows),
                       lambda i: True),
        "scan_where": (lambda: e.scan_where(scan, kinds, "v", 0, 98, ["k"]),
                       lambda i: i % 100 <= 98),
        "scan_where_multi": (lambda: e.scan_where_multi(
            scan, kinds, [("k", 1, rows), ("v", 1, 99)], ["k"]),
            lambda i: i % 100 >= 1),
        "grep_where": (lambda: e.grep_where(scan, kinds, "s", "x", ["k"]),
                       lambda i: True),
        "lookup_where": (lambda: e.lookup_where(scan, kinds, "c", 0, ["k"]),
                         lambda i: i % 50 != 0),
    }
    narrow = {
        "range_scan": (lambda: e.range_scan(scan, kinds, "k", 100, 149),
                       lambda i: 100 <= i <= 149),
        "scan_where": (lambda: e.scan_where(scan, kinds, "v", 99, 99, ["k"]),
                       lambda i: i % 100 == 99),
        "grep_where": (lambda: e.grep_where(scan, kinds, "s", "w7", ["k"]),
                       lambda i: i % 100 == 7),
        "lookup_where": (lambda: e.lookup_where(scan, kinds, "c", 1, ["k"]),
                         lambda i: i % 50 == 0),
    }
    for want, builders in ((1, wide), (0, narrow)):
        for name, (build, match) in builders.items():
            out = []
            assert jobs(lambda: out.append(build().collect())) == want, name
            assert sorted(r.k for r in out[0]) == \
                [i for i in range(rows) if match(i)], name


def test_wide_scan_stops_on_the_driver_after_its_first_block(
        spark, tmp_path, jobs, monkeypatch):
    """A scan whose answer looks wider than one Arrow batch stops
    selecting on the driver after its first block (every row of it
    passes, which scaled to all kept rows is past the batch) and reads
    no further row group: the Spark job is then the one that selects
    the blocks, with the exact rows. The 11 blocks sit in 3 row
    groups."""
    rows = engine._batch_rows(spark) + 500
    path = str(tmp_path / "wide")
    os.makedirs(path)
    pq.write_table(engine.encode_df(spark.createDataFrame(pa.table(
        {"k": pa.array(range(rows), pa.int64())})), ["k"], n_buckets=1,
        block_rows=1024).toArrow(), os.path.join(path, "blocks.parquet"),
        row_group_size=4)
    scan = spark.read.parquet(path)
    assert pq.ParquetFile(os.path.join(path, "blocks.parquet")) \
        .metadata.num_row_groups == 3
    picked, read = [], []
    select, read_rows = engine._BlockReader.select, engine._read_rows
    monkeypatch.setattr(engine._BlockReader, "select",
                        lambda self, p: picked.append(1) or select(self, p))
    monkeypatch.setattr(engine, "_read_rows",
                        lambda *a: read.append(1) or read_rows(*a))
    out = []
    assert jobs(lambda: out.append(engine.range_scan(
        scan, [("k", "i64")], "k", 0, rows).collect())) == 1
    assert sorted(r.k for r in out[0]) == list(range(rows))
    assert (len(picked), len(read)) == (1, 1)


def test_group_count_indexes_no_scan_larger_than_a_split(
        spark, tmp_path, monkeypatch):
    """A scan whose files exceed one input split is counted in Spark
    without reading its block index on the driver first."""
    t = pa.table({"k": pa.array(range(300), pa.int64()),
                  "s": [f"s{i % 5}" for i in range(300)]})
    src = spark.createDataFrame(t)
    kinds = engine.column_kinds(src.schema)
    path = str(tmp_path / "big")
    engine.encode_df(src, ["k"], n_buckets=1, block_rows=100) \
        .write.parquet(path)
    scan = spark.read.parquet(path)
    reads = []
    monkeypatch.setattr(engine, "_read_index", lambda *a: reads.append(a))
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try:
        got = engine.group_count(scan, kinds, "s").collect()
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert reads == []
    assert sorted((r.s, r.n_rows) for r in got) == \
        [(f"s{i}", 60) for i in range(5)]


def test_local_read_is_bounded_by_sparks_split_size(floats, jobs, spark):
    """The driver reads kept blocks only when they fit the split size
    Spark would cut this scan into, not merely ``maxPartitionBytes``:
    spreading the scan's bytes over many partitions, at no open cost,
    shrinks a split below one block and sends the lookup to Spark."""
    src, kinds, scan = floats
    confs = {"spark.sql.files.openCostInBytes": "1",
             "spark.sql.files.minPartitionNum": None}
    try:
        for parts, want in (("1", 0), ("100000", 1)):
            confs["spark.sql.files.minPartitionNum"] = parts
            for c, v in confs.items():
                spark.conf.set(c, v)
            out = []
            assert jobs(lambda: out.append(
                engine.lookup(scan, kinds, "k", 7).collect())) == want
            assert [r.k for r in out[0]] == [7]
    finally:
        for c in confs:
            spark.conf.unset(c)


def test_in_tested_string_column_decodes_once(monkeypatch):
    """A row test that decoded a column keeps its values for the output:
    an IN on a plain, FSST or wsdict string column and a range on a
    float column decode each column of the block exactly once, the
    tested ones included, and the rows match a brute-force filter."""
    import numpy as np
    import pyarrow.compute as pc

    from oroch_spark.kernels import strings as sc

    n = 3000
    rng = np.random.default_rng(11)
    words = np.array(["alpha", "beta", "gamma", "delta", "eps"])
    tbl = pa.table({
        "k": np.arange(n, dtype=np.int64),
        "plain": [f"{x:x}" for x in rng.permutation(1 << 20)[:n]],
        "url": [f"https://example.com/item/{x:016x}?v=1"
                for x in rng.integers(0, 2 ** 62, n)],
        "text": [" ".join(words[rng.integers(0, 5, rng.integers(1, 12))])
                 for _ in range(n)],
        "f": rng.normal(size=n),
    })
    kinds = engine.arrow_column_kinds(tbl.schema)
    row = engine._encode_chunk(tbl, 0, 0, kinds, ["k"],
                               frozenset(["url", "text"]))
    codecs = {d["n"]: d["c"] for d in json.loads(row["desc"])["cols"]}
    assert (codecs["plain"], codecs["url"], codecs["text"]) == \
        ("plain_str", "fsst_str", "wsdict_str")
    calls = []
    decode = sc.decode_str_block_arrow
    monkeypatch.setattr(sc, "decode_str_block_arrow",
                        lambda blob, m: calls.append(blob) or decode(blob, m))
    probes = {c: sorted(set(tbl.column(c).to_pylist()[::7]))
              for c in ("plain", "url", "text")}
    tests = [(c, engine._KeyPred(values=v,
                                 raw=(("in", engine._InSet(v)),)))
             for c, v in probes.items()]
    tests.append(("f", engine._KeyPred(lo=-1.0, raw=((">=", -1.0),))))
    blk = engine._BlockReader(row["desc"], pa.scalar(row["payload"]), n)
    idxs = blk.select(tests)
    out = blk.batch(tbl.schema, idxs)
    assert len(calls) == 3  # plain, url, text: once each
    mask = pc.greater_equal(tbl.column("f"), -1.0)
    for c, v in probes.items():
        mask = pc.and_(mask, pc.is_in(tbl.column(c), pa.array(v)))
    want = tbl.filter(mask)
    assert len(want) > 0 and out.equals(
        pa.RecordBatch.from_arrays([want.column(c).combine_chunks()
                                    for c in tbl.column_names],
                                   schema=tbl.schema))
