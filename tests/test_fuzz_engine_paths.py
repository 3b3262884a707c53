"""Randomized consistency fuzz of the engine's metadata-pruned query
paths against exact plain-DataFrame answers, on one mixed-type table.

This targets the layer where r4's real bugs lived (range_agg/agg_where
codec-domain mixups, nullable-int lookup precision — commit 0f42898):
every pruned or stats-answered path must agree with the brute-force
answer for random predicates across int64 / timestamp / date /
decimal(12,2) / string / nullable-int columns, including tight, wide,
point, inverted-to-empty, and out-of-domain ranges.

Op classes checked per iteration: scan_where, count_where,
range_count, range_agg (SUM/MIN/MAX/COUNT in the codec domain),
agg_where, scan_where_multi + count_where_multi (AND of two
predicates), lookup (hit + miss), lookup_in (batched IN), topk_key +
topk_by, grep_where (token-Bloom full-text), and group_count +
distinct_values. null_count and table_stats checks run once at the
end, on the first two frames below (they read metadata only). The
per-iteration checks run three times: on a cached encode, whose block
index is collected in a Spark job; on the same blocks written to
parquet and read back as a bare scan, whose index is read from the
files with pyarrow and whose kept blocks are decoded on the driver;
and on that scan with ``spark.sql.files.maxPartitionBytes`` below its
row groups, so Spark reads the kept blocks.

``format("oroch")`` gets the same treatment on a table written through
``write.format("oroch")``: random pushed filters and conjunctions,
counted through Spark and through the reader's own plan, against
pandas — on the table and on a copy with its descriptor stats and null
counts stripped.

Default is 3 iterations (~1 min with the shared session);
OROCH_FUZZ_ENGINE_ITERS / OROCH_FUZZ_ENGINE_SEED crank it — deep sweeps
totalling 176 iterations across nine seeds have run clean.
"""
import datetime
import glob
import json
import os
import random
import shutil

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from oroch_spark import engine

ITERS = int(os.environ.get("OROCH_FUZZ_ENGINE_ITERS", "3"))
SEED = int(os.environ.get("OROCH_FUZZ_ENGINE_SEED", "20260821"))

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
         "needle", "haystack", "token_x", "q42"]


@pytest.fixture(scope="module")
def fixture(spark, tmp_path_factory):
    rng = np.random.default_rng(SEED)
    rnd = random.Random(SEED)
    n = 4000
    k = np.sort(rng.integers(0, 3000, size=n)).astype(np.int64)
    u = (k * 3 + rng.integers(-500, 500, size=n)).astype(np.int64)
    ts_us = (1_700_000_000_000_000 + k * 86_400_000_000
             + rng.integers(0, 10**9, size=n)).astype(np.int64)
    d_days = (19000 + (k // 10)).astype(np.int64)
    dc_unscaled = rng.integers(-10**6, 10**6, size=n).astype(np.int64)
    s_cat = np.array([f"cat{int(x):03d}"
                      for x in rng.integers(0, 40, size=n)])
    ni = rng.integers(0, 1000, size=n).astype(np.float64)
    ni[rng.random(n) < 0.1] = np.nan
    txt = np.array([" ".join(rnd.choices(WORDS, k=rnd.randint(1, 6)))
                    for _ in range(n)])

    pdf = pd.DataFrame({
        "k": k, "u": u,
        "ts": pd.to_datetime(ts_us, unit="us"),
        "d": pd.to_datetime(d_days, unit="D").date,
        "dc": [f"{v / 100:.2f}" for v in dc_unscaled],
        "s": s_cat,
        "ni": ni,
        "txt": txt,
    })
    src = (spark.createDataFrame(pdf)
           .withColumn("dc", F.col("dc").cast("decimal(12,2)"))
           .withColumn("ni", F.expr("try_cast(ni as long)")))
    kinds = engine.column_kinds(src.schema)
    blocks = engine.encode_df(src, ["k"], n_buckets=4, block_rows=256,
                              text_cols=[], bloom_cols=["s"],
                              token_bloom_cols=["txt"]).cache()
    blocks.count()
    path = str(tmp_path_factory.mktemp("fuzz") / "blocks")
    blocks.write.parquet(path)
    scan = spark.read.parquet(path)
    assert engine._BlockIndex.of(scan) is not None
    assert engine._BlockIndex.of(blocks) is not None
    # int-domain twin for exact answers
    pdi = pd.DataFrame({
        "k": k, "u": u, "ts": ts_us, "d": d_days, "dc": dc_unscaled,
        "s": s_cat,
        "ni": pd.array([None if np.isnan(x) else int(x) for x in ni],
                       dtype="Int64"),
        "txt": txt,
    })
    yield (blocks, scan), kinds, pdi
    blocks.unpersist()


def _canon():
    # built lazily: unix_micros/unix_date need an active SparkContext
    return [F.col("k"), F.col("u"),
            F.unix_micros("ts").alias("ts"),
            F.unix_date("d").alias("d"),
            (F.col("dc") * 100).cast("long").alias("dc"),
            F.col("s"), F.col("ni"), F.col("txt")]


def _canon_collect(df):
    out = df.select(*_canon()).toPandas()
    out["ni"] = out["ni"].astype("Int64")
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def _canon_expected(pdi, mask):
    out = pdi[mask].reset_index(drop=True)
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def _rand_range(rng, lo_d, hi_d):
    span = hi_d - lo_d
    mode = rng.integers(0, 5)
    if mode == 0:  # tight
        a = int(rng.integers(lo_d, hi_d + 1))
        return a, a + max(1, span // 100)
    if mode == 1:  # wide (past both bounds)
        return lo_d - span // 10, hi_d + span // 10
    if mode == 2:  # empty (out of domain)
        return hi_d + 1000, hi_d + 2000
    if mode == 3:  # point
        a = int(rng.integers(lo_d, hi_d + 1))
        return a, a
    a = int(rng.integers(lo_d, hi_d + 1))
    b = int(rng.integers(lo_d, hi_d + 1))
    return (a, b) if a <= b else (b, a)


def test_pruned_paths_match_exact(fixture, split_below):
    frames, kinds, pdi = fixture
    for blocks in frames:
        _pruned_paths_match_exact(blocks, kinds, pdi)
    with split_below(frames[1]):
        _pruned_paths_match_exact(frames[1], kinds, pdi)


def _pruned_paths_match_exact(blocks, kinds, pdi):
    rng = np.random.default_rng(SEED + 1)
    rnd = random.Random(SEED + 1)
    domains = {c: (int(pdi[c].min()), int(pdi[c].max()))
               for c in ["k", "u", "ts", "d", "dc"]}
    domains["ni"] = (0, 1000)

    for _ in range(ITERS):
        # scan_where + count_where on a random column
        col = rnd.choice(["k", "u", "ts", "d", "dc", "ni", "s"])
        if col == "s":
            cats = sorted(set(pdi["s"]))
            lo, hi = sorted([rnd.choice(cats), rnd.choice(cats)])
            mask = (pdi["s"] >= lo) & (pdi["s"] <= hi)
        else:
            lo, hi = _rand_range(rng, *domains[col])
            mask = ((pdi[col] >= lo) & (pdi[col] <= hi))
            if col == "ni":
                mask = mask.fillna(False)
        mask = mask.to_numpy(dtype=bool)
        pd.testing.assert_frame_equal(
            _canon_collect(engine.scan_where(blocks, kinds, col, lo, hi)),
            _canon_expected(pdi, mask), check_dtype=False)
        n_got = engine.count_where(blocks, kinds, col, lo, hi) \
            .collect()[0]["n_rows"]
        assert n_got == int(mask.sum()), (col, lo, hi)

        # range_count / range_agg on the key, codec-domain agg values
        klo, khi = _rand_range(rng, *domains["k"])
        kmask = ((pdi["k"] >= klo) & (pdi["k"] <= khi)).to_numpy()
        n_got = engine.range_count(blocks, kinds, "k", klo, khi) \
            .collect()[0]["n_rows"]
        assert n_got == int(kmask.sum())
        agg_col = rnd.choice(["u", "ts", "d", "dc", "k"])
        row = engine.range_agg(blocks, kinds, "k", klo, khi, agg_col) \
            .collect()[0]
        sel = pdi[agg_col].to_numpy()[kmask]
        assert (row["n_rows"], row["sum_v"], row["min_v"], row["max_v"]) \
            == (int(kmask.sum()),
                int(sel.sum()) if len(sel) else None,
                int(sel.min()) if len(sel) else None,
                int(sel.max()) if len(sel) else None), (klo, khi, agg_col)

        # agg_where: a predicate on one column, aggregates of another
        pc_col, agg_col = rnd.sample(["u", "ts", "d", "dc", "k"], 2)
        plo, phi = _rand_range(rng, *domains[pc_col])
        pmask = ((pdi[pc_col] >= plo) & (pdi[pc_col] <= phi)).to_numpy()
        row = engine.agg_where(blocks, kinds, pc_col, plo, phi, agg_col) \
            .collect()[0]
        sel = pdi[agg_col].to_numpy()[pmask]
        assert tuple(row) == (int(pmask.sum()),
                              int(sel.sum()) if len(sel) else None,
                              int(sel.min()) if len(sel) else None,
                              int(sel.max()) if len(sel) else None), \
            (pc_col, plo, phi, agg_col)

        # top-k by the key and by a stats column, either direction
        k_top = int(rng.integers(1, 600))
        asc = bool(rng.integers(0, 2))
        got = [r["k"] for r in engine.topk_key(
            blocks, kinds, "k", k_top, ascending=asc).collect()]
        assert got == sorted(pdi["k"], reverse=not asc)[:k_top]
        got = [r["u"] for r in engine.topk_by(
            blocks, kinds, "u", k_top, ascending=asc).collect()]
        assert got == sorted(pdi["u"], reverse=not asc)[:k_top]

        # AND of two predicates
        c1, c2 = rnd.sample(["k", "u", "ts", "d", "dc"], 2)
        l1, h1 = _rand_range(rng, *domains[c1])
        l2, h2 = _rand_range(rng, *domains[c2])
        mm = ((pdi[c1] >= l1) & (pdi[c1] <= h1)
              & (pdi[c2] >= l2) & (pdi[c2] <= h2)).to_numpy()
        pd.testing.assert_frame_equal(
            _canon_collect(engine.scan_where_multi(
                blocks, kinds, [(c1, l1, h1), (c2, l2, h2)])),
            _canon_expected(pdi, mm), check_dtype=False)
        n_got = engine.count_where_multi(
            blocks, kinds, [(c1, l1, h1), (c2, l2, h2)]) \
            .collect()[0]["n_rows"]
        assert n_got == int(mm.sum())

        # point lookup (hit or miss) + batched IN
        kmax = domains["k"][1]
        val = int(rng.choice(pdi["k"])) if rng.integers(0, 2) \
            else kmax + 77
        pd.testing.assert_frame_equal(
            _canon_collect(engine.lookup(blocks, kinds, "k", val)),
            _canon_expected(pdi, (pdi["k"] == val).to_numpy()),
            check_dtype=False)
        probes = [int(x) for x in rng.choice(pdi["k"], size=3)] \
            + [kmax + 99]
        pd.testing.assert_frame_equal(
            _canon_collect(engine.lookup_in(blocks, kinds, "k", probes)),
            _canon_expected(pdi, pdi["k"].isin(probes).to_numpy()),
            check_dtype=False)

        # group_count / distinct_values, compared in the int domain
        gcol = rnd.choice(["s", "u", "ni", "ts", "d", "dc"])
        canon = dict(zip(["k", "u", "ts", "d", "dc", "s", "ni", "txt"],
                         _canon()))[gcol]
        want = {None if pd.isna(v) else v: int(c) for v, c in
                pdi[gcol].value_counts(dropna=False).items()}
        got = engine.group_count(blocks, kinds, gcol) \
            .select(canon, "n_rows").collect()
        assert len(got) == len(want) \
            and {r[0]: r[1] for r in got} == want, gcol
        got = engine.distinct_values(blocks, kinds, gcol) \
            .select(canon).collect()
        assert len(got) == len(want) \
            and {r[0] for r in got} == set(want), gcol

        # token-Bloom full-text search (present and absent words)
        w = rnd.choice(WORDS + ["missing_word"])
        exp_mask = np.array([w in t.split(" ") for t in pdi["txt"]])
        pd.testing.assert_frame_equal(
            _canon_collect(engine.grep_where(blocks, kinds, "txt", w)),
            _canon_expected(pdi, exp_mask), check_dtype=False)


def test_null_count_matches_exact(fixture):
    frames, kinds, pdi = fixture
    for blocks in frames:
        got = int(engine.null_count(blocks, kinds, "ni").collect()[0][0])
        assert got == int(pdi["ni"].isna().sum())
        assert int(engine.null_count(blocks, kinds, "k")
                   .collect()[0][0]) == 0
        stats = {r.col: r for r in
                 engine.table_stats(blocks, kinds, ["k", "ni", "s"])
                 .collect()}
        assert stats["k"].n_rows == len(pdi)
        assert (stats["k"].min_long, stats["k"].max_long) \
            == (int(pdi["k"].min()), int(pdi["k"].max()))
        assert stats["ni"].n_nulls == int(pdi["ni"].isna().sum())
        assert (stats["s"].min_str, stats["s"].max_str) \
            == (pdi["s"].min(), pdi["s"].max())


# ---------------------------------------------------------------------------
# format("oroch"): pushed filters against brute force
# ---------------------------------------------------------------------------

DS_QUERIES = 8 * ITERS
_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
# the Python value of each column's domain value, as Spark pushes it
_DS_LIT = {"d": lambda v: datetime.date(1970, 1, 1)
           + datetime.timedelta(days=int(v)),
           "ts": lambda v: _EPOCH + datetime.timedelta(microseconds=int(v)),
           "s": str}
_DS_OPS = {"ts": ["range", "isnull", "notnull"],
           "s": ["eq", "in", "range", "sw", "isnull", "notnull", "neq",
                 "notin"]}
_DS_INT_OPS = ["eq", "in", "range", "isnull", "notnull", "neq", "notin"]


def _strip_desc(path, fields):
    """Rewrite every block file under ``path`` with ``fields`` removed
    from each column of its descriptors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for f in glob.glob(os.path.join(path, "*.parquet")):
        t = pq.read_table(f)
        descs = [json.dumps({"cols": [
            {k: v for k, v in c.items() if k not in fields}
            for c in json.loads(d)["cols"]]})
            for d in t["desc"].to_pylist()]
        pq.write_table(t.set_column(t.schema.get_field_index("desc"),
                                    "desc", pa.array(descs)), f)


@pytest.fixture(scope="module")
def oroch_fixture(spark, tmp_path_factory):
    """A table written through ``write.format("oroch")`` in two commits:
    Blooms on ``s`` and ``u``, a nullable ``ni`` with an all-null key
    stretch, and a column ``e`` that only the second, appended commit
    has (the first one's blocks predate it). Yields its path, its copy
    with every descriptor's stats and null counts stripped (the
    legacy layout), the first commit's files and the source rows in
    the int domain (ts in microseconds, d in days)."""
    import pyarrow as pa
    from oroch_spark.sources import datasource as ds

    ds.register(spark)
    rng = np.random.default_rng(SEED + 2)
    n = 3000
    k = np.sort(rng.integers(0, 2000, size=n)).astype(np.int64)
    nulls = ((600 <= k) & (k < 800)) | (rng.random(n) < 0.15)
    late = k >= 1400
    pdi = pd.DataFrame({
        "k": k,
        "u": (k * 3 + rng.integers(-300, 300, size=n)).astype(np.int64),
        "ts": (1_700_000_000_000_000 + k * 3_600_000_000
               + rng.integers(0, 10**9, size=n)).astype(np.int64),
        "d": (19000 + k // 20).astype(np.int64),
        "s": [f"cat{int(x):03d}" for x in rng.integers(0, 40, size=n)],
        "ni": pd.array([None if z else int(x) for z, x in
                        zip(nulls, rng.integers(0, 500, size=n))],
                       dtype="Int64"),
        "e": pd.array([int(x) if z else None for z, x in
                       zip(late, rng.integers(0, 100, size=n))],
                      dtype="Int64"),
    })

    def frame(part, cols):
        t = pa.table({c: pa.array(part[c], pa.string() if c == "s"
                                  else pa.int64()) for c in cols})
        return (spark.createDataFrame(t)
                .withColumn("ts", F.timestamp_micros("ts"))
                .withColumn("d", F.date_from_unix_date(
                    F.col("d").cast("int"))))

    path = str(tmp_path_factory.mktemp("fuzz_ds") / "t")
    for part, cols, mode in ((pdi[~late], list(pdi.columns[:-1]),
                              "overwrite"),
                             (pdi[late], list(pdi.columns), "append")):
        (frame(part, cols).repartitionByRange(2, "k")
         .sortWithinPartitions("k").write.format("oroch").mode(mode)
         .option("key_cols", "k").option("block_rows", "128")
         .option("bloom_cols", "s,u").save(path))
        if mode == "overwrite":
            first = set(ds.read_sidecar(path)["files"])
    legacy = path + "_legacy"
    shutil.copytree(path, legacy)
    _strip_desc(legacy, ("lo", "hi", "s", "slo", "shi", "nc"))
    yield path, legacy, first, pdi


def _ds_pred(rnd, pdi, col):
    """A random predicate on ``col``: (Spark Column, the filters Spark
    pushes for it, SQL-semantics mask over ``pdi``)."""
    from oroch_spark.sources import datasource as ds

    x, c, a = pdi[col], F.col(col), (col,)
    lit = _DS_LIT.get(col, int)
    seen = sorted(set(x.dropna()))
    far = "zzz" if col == "s" else int(seen[-1]) + 1000

    def pick():
        return rnd.choice(seen) if rnd.random() < 0.85 else far

    def mask(m):
        return m.fillna(False).to_numpy(dtype=bool) \
            if hasattr(m, "fillna") else np.asarray(m, dtype=bool)

    valid = mask(x.notna())
    op = rnd.choice(_DS_OPS.get(col, _DS_INT_OPS))
    if op == "eq":
        v = pick()
        return c == F.lit(lit(v)), [ds.EqualTo(a, lit(v))], \
            valid & mask(x == v)
    if op in ("in", "notin"):
        vs = [pick() for _ in range(rnd.randint(1, 4))]
        hit = mask(x.isin(vs))
        if op == "in":
            return c.isin([lit(v) for v in vs]), \
                [ds.In(a, tuple(lit(v) for v in vs))], hit
        return ~c.isin([lit(v) for v in vs]), \
            [ds.Not(ds.In(a, tuple(lit(v) for v in vs)))], valid & ~hit
    if op == "neq":
        v = pick()
        return c != F.lit(lit(v)), [ds.Not(ds.EqualTo(a, lit(v)))], \
            valid & mask(x != v)
    if op == "isnull":
        return c.isNull(), [ds.IsNull(a)], ~valid
    if op == "notnull":
        return c.isNotNull(), [ds.IsNotNull(a)], valid
    if op == "sw":
        v = pick()
        p = v[:rnd.randint(1, len(v))]
        return c.startswith(p), [ds.StringStartsWith(a, p)], \
            valid & mask(x.str.startswith(p))
    lo, hi = sorted([pick(), pick()])
    parts = [(c >= F.lit(lit(lo)), ds.GreaterThanOrEqual(a, lit(lo)),
              valid & mask(x >= lo)),
             (c < F.lit(lit(hi)), ds.LessThan(a, lit(hi)),
              valid & mask(x < hi))]
    parts = rnd.sample(parts, rnd.randint(1, 2))
    col_ = parts[0][0] if len(parts) == 1 else parts[0][0] & parts[1][0]
    return col_, [p[1] for p in parts], \
        np.logical_and.reduce([p[2] for p in parts])


def test_oroch_source_filters_match_brute_force(spark, oroch_fixture):
    """Random pushed filters and their conjunctions over int64, ts,
    date, string and nullable columns count what pandas counts, read
    through Spark and planned and read through the reader itself, on
    the table and on its copy without stats or null counts. A
    null-rejecting filter on ``e`` plans no block of the first commit,
    which predates ``e``."""
    from oroch_spark.sources import datasource as ds

    path, legacy, first, pdi = oroch_fixture
    rnd = random.Random(SEED + 3)
    for table in (path, legacy):
        doc = ds.read_sidecar(table)
        for _ in range(DS_QUERIES):
            preds = [_ds_pred(rnd, pdi, rnd.choice(
                ["k", "u", "ts", "d", "s", "ni", "e"]))
                for _ in range(rnd.randint(1, 3))]
            cond = preds[0][0]
            for p in preds[1:]:
                cond = cond & p[0]
            want = int(np.logical_and.reduce([p[2] for p in preds]).sum())
            what = (table, [f for p in preds for f in p[1]])
            assert spark.read.format("oroch").load(table).filter(cond) \
                .count() == want, what
            rdr = ds.OrochReader({"path": table}, doc["kinds"],
                                 doc["key_cols"])
            if list(rdr.pushFilters(what[1])):
                continue  # a ts bound: Spark filters it
            parts = rdr.partitions()
            assert sum(b.num_rows for p in parts for b in rdr.read(p)) \
                == want, what
            if any((f.child if isinstance(f, ds.Not) else f).attribute
                   == ("e",) and not isinstance(f, ds.IsNull)
                   for f in what[1]):
                assert not {os.path.basename(p.file) for p in parts
                            if p.file} & first, what
