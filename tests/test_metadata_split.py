"""The metadata-split kernel (range_count, range_agg, agg_where,
null_count) against brute force over the raw table.

Every block yields one partial row: blocks the metadata answers give
their stored count and stats, the rest reduce their own rows in the
decode kernel. The answers must equal pyarrow's over the source, for
every key and aggregate kind (a nullable one too), whether the
boundary blocks reduce on the driver or in a Spark job, on blocks that
predate the aggregate column, on legacy blocks without stats, and on
empty ranges; and a range the metadata answers in full must never
decode a payload.
"""
import datetime
import decimal
import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from oroch_spark import engine

N = 600
TS0 = 1_600_000_000_000_000
# key kind -> key column; every column is also an aggregate except s
KEY_COLS = {"i64": "id", "ts": "ts", "date": "dt", "dec": "dc", "str": "s"}
AGG_COLS = ["v", "ts", "dt", "dc", "ni"]


def _strs(ids):
    # non-ASCII tails, astral included: UTF-8 byte order is the order
    tails = ["", "é", "￿", "\U0001f600", "z"]
    return [f"k{i // 5:03d}{tails[i % 5]}" for i in ids]


@pytest.fixture(scope="module")
def src(tmp_path_factory):
    """(raw pyarrow table, the same columns in the int64 codec domain,
    parquet path). Keys are even ids, so an odd point range overlaps
    a block yet matches no row."""
    rng = np.random.default_rng(11)
    ids = rng.permutation(N).astype(np.int64) * 2
    ts = TS0 + ids * 1_000_003
    days = 18_000 + ids // 6
    dc = ids * 7 - 1_000
    v = rng.integers(-2 ** 40, 2 ** 40, N)
    ni = [None if r < 0.2 else int(x)
          for r, x in zip(rng.random(N), rng.integers(-50, 50, N))]
    t = pa.table({
        "id": ids,
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "dt": pa.array(days.astype(np.int32), pa.date32()),
        "dc": pa.array([decimal.Decimal(int(x)).scaleb(-2) for x in dc],
                       pa.decimal128(10, 2)),
        "s": _strs(ids),
        "v": v,
        "ni": pa.array(ni, pa.int64()),
    })
    dom = {"id": pa.array(ids), "ts": pa.array(ts), "dt": pa.array(days),
           "dc": pa.array(dc), "s": t["s"].combine_chunks(),
           "v": pa.array(v), "ni": pa.array(ni, pa.int64())}
    path = str(tmp_path_factory.mktemp("msplit") / "src.parquet")
    pq.write_table(t, path)
    return t, dom, path


@pytest.fixture(scope="module")
def tables(spark, src, tmp_path_factory):
    """kind -> blocks table keyed on that kind's column, persisted."""
    df = spark.read.parquet(src[2])
    root = tmp_path_factory.mktemp("msplit_blocks")
    out = {}
    for kind, col in KEY_COLS.items():
        path = str(root / kind)
        engine.encode_df(df, [col], n_buckets=2, block_rows=64) \
            .write.parquet(path)
        out[kind] = spark.read.parquet(path)
    return engine.column_kinds(df.schema), out


def _expect(dom, col, lo, hi, agg):
    """(count, sum, min, max) of ``agg`` over rows with lo <= col <= hi,
    all in the codec domain, by pyarrow."""
    m = pc.and_(pc.greater_equal(dom[col], lo), pc.less_equal(dom[col], hi))
    sel = dom[agg].filter(m)
    return (len(sel), pc.sum(sel).as_py(), pc.min(sel).as_py(),
            pc.max(sel).as_py())


def _ranges(dom, col):
    """A mid-block range, one past both ends, an empty range beyond
    the data, an inverted one and an odd point between the even keys
    (a straddled block with no matching row)."""
    vals = sorted(dom[col].to_pylist())
    if col == "s":
        return [(vals[100], vals[430]), ("", "\U0010ffff"),
                ("l", "m"), (vals[300], vals[200]),
                (vals[10] + "\x00", vals[10] + "\x00")]
    return [(vals[100], vals[430]), (vals[0] - 5, vals[-1] + 5),
            (vals[-1] + 1, vals[-1] + 9), (vals[300], vals[200]),
            (vals[10] + 1, vals[10] + 1)]


@pytest.mark.parametrize("kind", list(KEY_COLS))
def test_range_aggregates_match_bruteforce(src, tables, kind):
    _range_aggregates_match(src, tables, kind)


@pytest.mark.parametrize("kind", list(KEY_COLS))
def test_range_aggregates_match_bruteforce_in_spark(src, tables, kind,
                                                    split_below):
    """The same answers when no row group fits one input split: the
    boundary blocks reduce in a Spark job, not on the driver."""
    with split_below(tables[1][kind]):
        _range_aggregates_match(src, tables, kind)


def _range_aggregates_match(src, tables, kind):
    kinds, blocks = tables[0], tables[1][kind]
    dom, col = src[1], KEY_COLS[kind]
    for i, (lo, hi) in enumerate(_ranges(dom, col)):
        exp_n = _expect(dom, col, lo, hi, "v")[0]
        assert engine.range_count(blocks, kinds, col, lo, hi) \
            .first().n_rows == exp_n
        assert engine.count_where(blocks, kinds, col, lo, hi) \
            .first().n_rows == exp_n
        for agg in AGG_COLS:
            exp = _expect(dom, col, lo, hi, agg)
            got = engine.range_agg(blocks, kinds, col, lo, hi, agg).first()
            assert tuple(got) == exp, (col, lo, hi, agg)
        # the secondary-predicate form answers from per-column stats
        agg = AGG_COLS[i % len(AGG_COLS)]
        got = engine.agg_where(blocks, kinds, col, lo, hi, agg).first()
        assert tuple(got) == _expect(dom, col, lo, hi, agg), (col, agg)


def test_empty_range_is_zero_and_nulls(tables):
    kinds, blocks = tables[0], tables[1]["i64"]
    for lo, hi in ((21, 21), (10 ** 9, 10 ** 9 + 5)):
        assert tuple(engine.range_agg(blocks, kinds, "id", lo, hi, "v")
                     .first()) == (0, None, None, None)
        assert tuple(engine.agg_where(blocks, kinds, "id", lo, hi, "ni")
                     .first()) == (0, None, None, None)


def test_multi_predicate_count_matches_bruteforce(src, tables):
    kinds, blocks = tables[0], tables[1]["ts"]
    dom = src[1]
    lo1, hi1 = TS0 + 100 * 1_000_003, TS0 + 900 * 1_000_003
    m = pc.and_(pc.and_(pc.greater_equal(dom["ts"], lo1),
                        pc.less_equal(dom["ts"], hi1)),
                pc.and_(pc.greater_equal(dom["s"], "k030"),
                        pc.less_equal(dom["s"], "k070￿")))
    got = engine.count_where_multi(
        blocks, kinds, [("ts", lo1, hi1), ("s", "k030", "k070￿")])
    assert got.first().n_rows == pc.sum(m.cast(pa.int64())).as_py()


def test_null_count_matches_bruteforce(src, tables):
    kinds, blocks = tables[0], tables[1]["i64"]
    assert engine.null_count(blocks, kinds, "ni").first().n_nulls \
        == src[1]["ni"].null_count
    assert engine.null_count(blocks, kinds, "v").first().n_nulls == 0


def _rewrite(spark, blocks, desc_fn=None, payload_fn=None):
    rows = []
    for r in blocks.collect():
        rd = r.asDict()
        if desc_fn:
            rd["desc"] = desc_fn(rd["desc"])
        if payload_fn:
            rd["payload"] = payload_fn(rd["payload"])
        rows.append(rd)
    return spark.createDataFrame(rows, schema=blocks.schema)


def _strip_stats(desc):
    d = json.loads(desc)
    for c in d["cols"]:
        for f in ("lo", "hi", "s", "slo", "shi", "nc"):
            c.pop(f, None)
    return json.dumps(d)


def test_legacy_blocks_without_stats(spark, src, tables):
    """Blocks written before the descriptor carried stats reduce every
    block in the kernel — the same answers."""
    kinds, dom = tables[0], src[1]
    legacy = _rewrite(spark, tables[1]["i64"], desc_fn=_strip_stats)
    for lo, hi in _ranges(dom, "id")[:3]:
        for agg in AGG_COLS:
            got = engine.range_agg(legacy, kinds, "id", lo, hi, agg).first()
            assert tuple(got) == _expect(dom, "id", lo, hi, agg)
        got = engine.agg_where(legacy, kinds, "dc", -2000, 3000, "v").first()
        assert tuple(got) == _expect(dom, "dc", -2000, 3000, "v")
    assert engine.null_count(legacy, kinds, "ni").first().n_nulls \
        == dom["ni"].null_count


def test_block_predating_the_aggregate_column(spark):
    """Rows of a block written before the aggregate column existed
    still count; their aggregate is NULL (add-column semantics)."""
    old = spark.createDataFrame([(i, i * 3) for i in range(0, 200, 2)],
                                "k long, v long")
    new = spark.createDataFrame([(i, i * 3, i - 7)
                                 for i in range(1, 200, 2)],
                                "k long, v long, w long")
    blocks = engine.encode_df(old, ["k"], n_buckets=1, block_rows=32) \
        .unionByName(engine.encode_df(new, ["k"], n_buckets=1,
                                      block_rows=32))
    kinds = engine.column_kinds(new.schema)
    lo, hi = 10, 150
    ws = [i - 7 for i in range(1, 200, 2) if lo <= i <= hi]
    got = engine.range_agg(blocks, kinds, "k", lo, hi, "w").first()
    assert tuple(got) == (hi - lo + 1, sum(ws), min(ws), max(ws))
    got = engine.agg_where(blocks, kinds, "v", 3 * lo, 3 * hi, "w").first()
    assert tuple(got) == (hi - lo + 1, sum(ws), min(ws), max(ws))
    assert engine.null_count(blocks, kinds, "w").first().n_nulls == 100


def test_all_interior_range_decodes_no_payload(spark, src, tables):
    """With every payload corrupted, a range the key bounds and stats
    answer in full still gives the right answer: no payload byte is
    read. A range that straddles blocks must fail on the same table."""
    kinds, dom = tables[0], src[1]
    bad = _rewrite(spark, tables[1]["i64"],
                   payload_fn=lambda p: b"\xff" * len(p)).cache()
    lo, hi = -5, 2 * N + 5
    assert tuple(engine.range_agg(bad, kinds, "id", lo, hi, "v").first()) \
        == _expect(dom, "id", lo, hi, "v")
    assert engine.range_count(bad, kinds, "id", lo, hi).first().n_rows == N
    assert tuple(engine.agg_where(bad, kinds, "dc", -10 ** 6, 10 ** 6,
                                  "ts").first()) \
        == _expect(dom, "dc", -10 ** 6, 10 ** 6, "ts")
    with pytest.raises(Exception):
        engine.range_count(bad, kinds, "id", 100, 200).first()
    bad.unpersist()


def test_overflowing_sum_raises(spark):
    """A block whose exact partial sum exceeds int64 must not wrap: the
    engine's final sum overflows as Spark's own sum over the rows
    does, and a sum that fits stays exact."""
    big = 2 ** 62
    df = spark.createDataFrame([(i, big) for i in range(8)],
                               "k long, v long")
    kinds = engine.column_kinds(df.schema)
    blocks = engine.encode_df(df, ["k"], n_buckets=1, block_rows=64)
    with pytest.raises(Exception, match="(?i)overflow"):
        engine.range_agg(blocks, kinds, "k", 1, 6, "v").first()
    got = engine.range_agg(blocks, kinds, "k", 1, 1, "v").first()
    assert tuple(got) == (1, big, big, big)


def test_partials_split_past_int64():
    assert engine._int64_parts(5) == [5]
    for s in (2 ** 64, -(2 ** 65) - 3, 2 ** 63, -(2 ** 63) - 1):
        parts = engine._int64_parts(s)
        assert sum(parts) == s and len(parts) > 1
        assert all(-(2 ** 63) <= p < 2 ** 63 for p in parts)


def test_kernel_compares_in_the_codec_domain():
    """Decoded ts/date/decimal values compare against bounds in epoch
    micros, days and unscaled ints; strings in UTF-8 byte order."""
    cols = {"ts": (pa.array([TS0, TS0 + 5], pa.timestamp("us", tz="UTC")),
                   engine.K_TS, TS0 + 1, TS0 + 5),
            "dt": (pa.array([datetime.date(2020, 1, 1)] * 2, pa.date32()),
                   engine.K_DATE, 18262, 18262),
            "dc": (pa.array([decimal.Decimal("1.25"), decimal.Decimal("-3")],
                            pa.decimal128(6, 2)), "dec(6,2)", -300, -300),
            "s": (pa.array(["\U0001f600", "z"]), engine.K_STR,
                  "￿", "\U0001f600")}
    descs, blobs, off = [], b"", 0
    for name, (arr, kind, _, _) in cols.items():
        blob, d, _, _ = engine._encode_column(arr, kind, False, name)
        descs.append({**d, "n": name, "o": off, "l": len(blob)})
        blobs += blob
        off += len(blob)
    blk = engine._BlockReader({"cols": descs}, pa.scalar(blobs), 2)
    for name, (_, kind, lo, hi) in cols.items():
        rows = blk.select(engine._range_tests([(name, lo, hi)])).tolist()
        got = [i in rows for i in range(2)]
        assert got == {"ts": [False, True], "dc": [False, True],
                       "dt": [True, True], "s": [True, False]}[name]


def test_float_bounds_match_brute_force(spark, tmp_path):
    """Fractional bounds on f64 and f32 columns keep exactly the rows
    whose value, read as float64, lies in [lo, hi] — a NaN row in none
    — through every range builder, on the driver and in a Spark job;
    a NaN bound raises."""
    n = 400
    f = np.arange(n) * 0.25
    f[5] = np.nan
    g = (np.arange(n) * 0.1).astype(np.float32)
    g[7] = np.nan
    t = pa.table({"k": pa.array(np.arange(n), pa.int64()),
                  "f": pa.array(f, pa.float64()),
                  "g": pa.array(g, pa.float32())})
    kinds = engine.column_kinds(spark.createDataFrame(t).schema)
    path = str(tmp_path / "blocks")
    engine.encode_df(spark.createDataFrame(t), ["k"], n_buckets=1,
                     block_rows=64).write.parquet(path)

    def brute(preds):
        m = np.ones(n, dtype=bool)
        for c, lo, hi in preds:
            v = t[c].to_numpy().astype(np.float64)
            m &= (v >= lo) & (v <= hi)
        return np.flatnonzero(m).tolist()

    cases = [[("f", -0.9, 0.9)], [("f", 10.3, 12.9)], [("g", -0.9, 0.9)],
             [("g", 10.3, 12.9)], [("f", 0.2, 30.1), ("g", 1.05, 50.0)]]
    scan = spark.read.parquet(path)
    for b in (scan, scan.select("*")):
        for preds in cases:
            want = brute(preds)
            assert sorted(r.k for r in engine.scan_where_multi(
                b, kinds, preds, ["k"]).collect()) == want, preds
            assert engine.count_where_multi(b, kinds, preds) \
                .first().n_rows == len(want), preds
            if len(preds) == 1:
                (c, lo, hi), = preds
                assert sorted(r.k for r in engine.scan_where(
                    b, kinds, c, lo, hi).collect()) == want, preds
                assert engine.count_where(b, kinds, c, lo, hi) \
                    .first().n_rows == len(want), preds
                assert tuple(engine.agg_where(b, kinds, c, lo, hi, "k")
                             .first()) == (len(want), sum(want),
                                           min(want), max(want)), preds
    assert brute([("f", -0.9, 0.9)]) == [0, 1, 2, 3]
    assert len(brute([("f", 10.3, 12.9)])) == 10
    for build in (engine.scan_where, engine.count_where):
        with pytest.raises(ValueError):
            build(scan, kinds, "f", float("nan"), 1.0)
