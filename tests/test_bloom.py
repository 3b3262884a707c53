"""Per-block Bloom filters: build at encode, block-index probe,
lookup_where."""
import numpy as np
import pytest

from pyspark.sql import functions as F

from oroch_spark import engine

EVENTS = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module")
def src(spark):
    return spark.read.parquet(EVENTS).cache()


@pytest.fixture(scope="module")
def kinds(src):
    return engine.column_kinds(src.schema)


def _bloom_kept(blocks, col, value, kind):
    """Blocks the block index keeps by ``col``'s Bloom alone."""
    ix = engine._BlockIndex.of(blocks)
    return len(ix.keep(lambda i: ix.bloom(i, col, value, kind)))


@pytest.fixture(scope="module")
def blocks(spark, src):
    return engine.encode_df(src, ["ts"], n_buckets=4, block_rows=256,
                            bloom_cols=["props", "event_id"]).cache()


def test_bloom_never_false_negative(spark, src, kinds, blocks):
    """Every present value's lookup returns exactly the source rows —
    across many probes (the no-false-negatives contract)."""
    probes = [r.props for r in src.select("props").distinct().limit(20)
              .collect()]
    for p in probes:
        got = sorted(r.event_id for r in
                     engine.lookup_where(blocks, kinds, "props", p)
                     .collect())
        exp = sorted(r.event_id for r in
                     src.filter(F.col("props") == p).collect())
        assert got == exp and got


def test_bloom_prunes_absent_value(spark, blocks):
    """A value in no block prunes every block (tiny FPR at 6 probes,
    >=8 bits/row) and the lookup returns empty."""
    kept = _bloom_kept(blocks, "props", '{"k": -1234567}', "str")
    assert kept == 0


def test_bloom_int_column_and_projection(spark, src, kinds, blocks):
    row = src.select("event_id", "user_id").first()
    got = engine.lookup_where(blocks, kinds, "event_id", row.event_id,
                              columns=["user_id"])
    assert got.columns == ["user_id"]
    assert [r.user_id for r in got.collect()] == [row.user_id]
    # event_id is unique: the probe should keep only ~1 block (+FPR)
    kept = _bloom_kept(blocks, "event_id", row.event_id, "i64")
    assert kept <= 2


def test_bloom_absent_column_keeps_all(spark, src, kinds, blocks):
    """Probing a column that has NO bloom keeps every block (null =
    cannot prune) and the exact filter still answers correctly."""
    n = blocks.count()
    kept = _bloom_kept(blocks, "user_id", 3, "i64")
    assert kept == n
    got = engine.lookup_where(blocks, kinds, "user_id", 3).count()
    assert got == src.filter(F.col("user_id") == 3).count()


def test_bloom_maponly_and_persisted(spark, src, kinds, tmp_path):
    """Blooms built on the map-only path survive a parquet round-trip
    of the blocks table; probe against the STORED table."""
    bp = str(tmp_path / "blocks")
    engine.encode_parquet_maponly(spark, EVENTS, ["event_id"],
                                  block_rows=512,
                                  bloom_cols=["props"]) \
        .write.parquet(bp)
    stored = spark.read.parquet(bp)
    p = src.select("props").first()[0]
    got = sorted(r.event_id for r in
                 engine.lookup_where(stored, kinds, "props", p).collect())
    exp = sorted(r.event_id for r in
                 src.filter(F.col("props") == p).collect())
    assert got == exp


def test_bloom_unsupported_kind_raises(spark, src, kinds, blocks):
    with pytest.raises(ValueError, match="equality-probe"):
        engine.lookup_where(blocks, kinds, "value", 1.5)
    with pytest.raises(ValueError, match="bloom filters support"):
        engine._bloom_build(
            spark.read.parquet(EVENTS).select("value").limit(10)
            .toPandas().pipe(lambda d: __import__("pyarrow").Array.
                             from_pandas(d["value"])), "f64")


def test_bloom_build_probe_bit_identical():
    """Driver-side replay: the probe positions match the numpy build
    positions for both int and string domains, including filter
    sizes at the clamp edges."""
    import pyarrow as pa
    for vals, kind in [
            (pa.array(np.arange(10, dtype=np.int64)), "i64"),
            (pa.array([f"s{i}" for i in range(100000)]), "str")]:
        bm = np.frombuffer(engine._bloom_build(vals, kind), np.uint8)
        m_bits = len(bm) * 8
        assert (m_bits & (m_bits - 1)) == 0  # power of two
        probe = vals[3].as_py()
        h1 = int(engine._bloom_hash_vals(probe, kind)[0])
        h2 = int(engine._mix64(np.array([h1], np.uint64))[0])
        for i in range(engine._BLOOM_K):
            pos = (h1 + i * h2) % (1 << 64) % m_bits
            assert bm[pos >> 3] & (1 << (pos & 7))
