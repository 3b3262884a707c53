"""The engine's row filters, stats and aggregates are SQL text.

- literals render through one helper that cannot be injected;
- each query builder answers as the chain of PySpark ``Column`` calls
  the SQL prune path once was (the ``_ref_*`` builders below), on a
  frame that is not a bare scan;
- the builders stay clear of ``Column`` methods, each of which records
  its Python call site in PySpark 4 (py4j round trips and a stack walk).
"""
import datetime
import decimal
import re

import pytest
from pyspark.sql import Window, functions as F

from oroch_spark import engine
from desc_stats import STATS_SCHEMA

ODD = "'\\`é—"  # quote, backslash, backtick and non-ASCII text
N_ROWS = 1000


def _sval(i):
    return f"k{i:04d}{ODD}"


def _ts_us(i):
    return 1_577_836_800_000_000 + i * 1_000_000


# key kind -> (key column, the key value of row i in the prune domain)
KEYS = {
    "i64": ("id", lambda i: i),
    "ts": ("ts", _ts_us),
    "date": ("dt", lambda i: 18262 + i),
    "dec": ("dc", lambda i: i),  # unscaled dec(10,2)
    "str": ("s", _sval),
}


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    rows = [(i, _sval(i),
             datetime.datetime(2020, 1, 1) + datetime.timedelta(seconds=i),
             datetime.date(2020, 1, 1) + datetime.timedelta(days=i),
             decimal.Decimal(i) / 100, i * 3) for i in range(N_ROWS)]
    src = spark.createDataFrame(
        rows, "id long, s string, ts timestamp, dt date, dc decimal(10,2), "
              "v long")
    kinds = engine.column_kinds(src.schema)
    root = tmp_path_factory.mktemp("sqlexpr")
    out = {}
    for kind, (col, _) in KEYS.items():
        path = str(root / kind)
        engine.encode_df(src, [col], n_buckets=2, block_rows=100,
                         bloom_cols=["s", "v"]).write.parquet(path)
        out[kind] = spark.read.parquet(path)  # persisted: filters push
    return kinds, out


# --- the Column-chain builders the SQL text replaced ------------------


def _ref_overlap(lo, hi):
    b0, b1 = ("key_slo", "key_shi") if isinstance(lo, str) \
        else ("key_lo", "key_hi")
    return F.col(b0).isNull() | ((F.col(b0) <= hi) & (F.col(b1) >= lo))


def _ref_contained(lo, hi):
    b0, b1 = ("key_slo", "key_shi") if isinstance(lo, str) \
        else ("key_lo", "key_hi")
    return F.coalesce((F.col(b0) >= lo) & (F.col(b1) <= hi), F.lit(False))


def _ref_key_lit(kind, v):
    if isinstance(v, str):
        return F.lit(v)
    if kind == engine.K_TS:
        return F.timestamp_micros(F.lit(int(v)))
    if kind == engine.K_DATE:
        return F.date_from_unix_date(F.lit(int(v)))
    if kind.startswith("dec("):
        p, s = kind[4:-1].split(",")
        return F.lit(decimal.Decimal(int(v)).scaleb(-int(s))) \
            .cast(f"decimal({p},{s})")
    return F.lit(int(v))


def _ref_between(kinds, col, lo, hi):
    kind = dict(kinds)[col]
    return ((F.col(col) >= _ref_key_lit(kind, lo))
            & (F.col(col) <= _ref_key_lit(kind, hi)))


def _ref_int_domain(kind, col):
    if kind == engine.K_TS:
        return F.unix_micros(col)
    if kind == engine.K_DATE:
        return F.unix_date(col)
    if kind.startswith("dec("):
        s = int(kind[4:-1].split(",")[1])
        return (col * F.lit(10 ** s)).cast("long")
    return col.cast("long")


def _ref_stats(col):
    return F.get(F.filter(
        F.from_json(F.col("desc"), STATS_SCHEMA)["cols"],
        lambda c: c["n"] == F.lit(col)), 0)


def _ref_bloom_keep(col, value, kind):
    import numpy as np

    h1 = int(engine._bloom_hash_vals(value, kind)[0])
    h2 = int(engine._mix64(np.array([h1], dtype=np.uint64))[0])
    bm = _ref_stats(col)["bm"]
    bloom = F.unbase64(bm)
    m_bits = (F.length(bloom) * F.lit(8)).cast("long")
    hit = None
    for i in range(engine._BLOOM_K):
        full = (h1 + i * h2) % (1 << 64)
        signed = full - (1 << 64) if full >= (1 << 63) else full
        pos = F.pmod(F.lit(signed), m_bits)
        byte_v = F.conv(F.hex(F.substring(
            bloom, (F.shiftright(pos, 3) + F.lit(1)).cast("int"),
            F.lit(1))), 16, 10).cast("int")
        bit = pos.bitwiseAND(F.lit(7)).cast("int")
        c = F.getbit(byte_v.cast("long"), bit) == F.lit(1)
        hit = c if hit is None else hit & c
    return bm.isNull() | hit


def _ref_lookup_in(blocks, values):
    vals = sorted(set(values))
    if len(vals) > 64:
        return blocks.filter(_ref_overlap(vals[0], vals[-1]))
    cond = _ref_overlap(vals[0], vals[0])
    for v in vals[1:]:
        cond = cond | _ref_overlap(v, v)
    return blocks.filter(cond)


def _ref_range_count(blocks, kinds, key, lo, hi):
    ov = blocks.filter(_ref_overlap(lo, hi))
    inside = _ref_contained(lo, hi)
    contained = ov.filter(inside).select(F.col("n").alias("_c"))
    boundary = (engine.decode_df(ov.filter(~inside), kinds, columns=[key])
                .filter(_ref_between(kinds, key, lo, hi))
                .select(F.lit(1).cast("long").alias("_c")))
    return (contained.unionByName(boundary)
            .agg(F.coalesce(F.sum("_c"), F.lit(0)).cast("long")
                 .alias("n_rows")))


def _ref_range_agg(blocks, kinds, key, lo, hi, agg_col):
    ov = blocks.filter(_ref_overlap(lo, hi))
    st = _ref_stats(agg_col)
    has = st["lo"].isNotNull() & st["hi"].isNotNull() & st["s"].isNotNull()
    inside = _ref_contained(lo, hi) & has
    interior = ov.filter(inside).select(
        F.col("n").alias("_c"), st["s"].alias("_s"),
        st["lo"].alias("_lo"), st["hi"].alias("_hi"))
    v = _ref_int_domain(dict(kinds)[agg_col], F.col(agg_col))
    cols = [key] if agg_col == key else [key, agg_col]
    boundary = (engine.decode_df(ov.filter(~inside), kinds, columns=cols)
                .filter(_ref_between(kinds, key, lo, hi))
                .select(F.lit(1).cast("long").alias("_c"), v.alias("_s"),
                        v.alias("_lo"), v.alias("_hi")))
    return (interior.unionByName(boundary).agg(
        F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_rows"),
        F.sum("_s").cast("long").alias("sum_v"),
        F.min("_lo").cast("long").alias("min_v"),
        F.max("_hi").cast("long").alias("max_v")))


def _ref_topk_key(blocks, kinds, key, k, ascending):
    lo_c, hi_c = (F.col("key_slo"), F.col("key_shi")) \
        if dict(kinds)[key] == engine.K_STR \
        else (F.col("key_lo"), F.col("key_hi"))
    first, edge = (hi_c, lo_c) if ascending else (lo_c, hi_c)
    meta = blocks.select("bucket", "n", first.alias("_lo"))
    w = Window.partitionBy("bucket").orderBy(
        F.col("_lo").asc_nulls_last() if ascending
        else F.col("_lo").desc_nulls_last())
    prev = F.coalesce(
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0))
    pref_lo = F.when(F.col("_pref"), F.col("_lo"))
    th = (meta.withColumn("_prev", prev)
          .withColumn("_pref",
                      (F.col("_prev") < k) & F.col("_lo").isNotNull())
          .groupBy("bucket")
          .agg((F.max(pref_lo) if ascending else F.min(pref_lo))
               .alias("_t"),
               (F.max(F.when(F.col("_pref"), F.col("_prev") + F.col("n")))
                >= k).alias("_enough")))
    keep = (edge.isNull() | F.col("_t").isNull()
            | ~F.coalesce(F.col("_enough"), F.lit(False))
            | (edge <= F.col("_t") if ascending else edge >= F.col("_t")))
    kept = (blocks.join(F.broadcast(th), "bucket", "left").filter(keep)
            .drop("_t", "_enough"))
    dec = engine.decode_df(kept, kinds)
    order = F.col(key).asc() if ascending else F.col(key).desc()
    return dec.orderBy(order).limit(k)


def _ref_lookup_where(blocks, col, value, kind):
    st = _ref_stats(col)
    b0, b1 = ("slo", "shi") if kind == engine.K_STR else ("lo", "hi")
    return blocks.filter(
        _ref_bloom_keep(col, value, kind)
        & (st[b0].isNull() | ((st[b0] <= value) & (st[b1] >= value))))


# --- plan comparison ---------------------------------------------------


def _plan(df):
    """(filter/aggregate/window expressions of the canonicalized
    optimized plan, PushedFilters of every parquet scan)."""
    qe = df._jdf.queryExecution()
    exprs, todo = [], [qe.optimizedPlan().canonicalized()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "Filter":
            exprs.append(node.condition().toString())
        elif name == "Aggregate":
            exprs.append(node.groupingExpressions().toString()
                         + node.aggregateExpressions().toString())
        elif name == "Window":
            exprs.append(node.windowExpressions().toString())
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    pushed, todo = [], [qe.sparkPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName().startswith("Scan"):
            md = node.metadata()
            if md.contains("PushedFilters"):
                pushed.append(md.apply("PushedFilters"))
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    # a lambda variable's name and id are per-construction
    exprs = [re.sub(r"\bx(_\d+)?#\d+", "x", e) for e in exprs]
    return sorted(exprs), sorted(pushed)


def _bounds(kind):
    key = KEYS[kind][1]
    return key(100), key(650)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("kind", list(KEYS))
def test_prune_plans_match_column_form(tables, kind):
    # select("*") is not a bare scan: its block index is collected in a
    # Spark job; each answer matches its Column-form reference
    kinds, blocks = tables[0], tables[1][kind].select("*")
    col, key = KEYS[kind]
    lo, hi = _bounds(kind)
    probes16 = [key(i) for i in range(300, 316)]
    probes100 = [key(i) for i in range(300, 400)]

    def anyof(probes):
        cond = None
        for v in probes:
            c = _ref_between(kinds, col, v, v)
            cond = c if cond is None else cond | c
        return cond

    cases = [
        (engine.lookup(blocks, kinds, col, lo),
         blocks.filter(_ref_overlap(lo, lo)), anyof([lo])),
        (engine.lookup_in(blocks, kinds, col, probes16),
         _ref_lookup_in(blocks, probes16), anyof(probes16)),
        (engine.lookup_in(blocks, kinds, col, probes100),
         _ref_lookup_in(blocks, probes100), anyof(probes100)),
        (engine.lookup_where(blocks, kinds, "s", _sval(123)),
         _ref_lookup_where(blocks, "s", _sval(123), engine.K_STR),
         F.col("s") == _sval(123)),
        (engine.lookup_where(blocks, kinds, "v", 369),
         _ref_lookup_where(blocks, "v", 369, engine.K_I64),
         F.col("v") == 369),
    ]
    for got, ref_blocks, row_filter in cases:
        ref = engine.decode_df(ref_blocks, kinds).filter(row_filter)
        assert _rows(got) == _rows(ref)
        assert _rows(got)
    for got, ref in [
            (engine.range_count(blocks, kinds, col, lo, hi),
             _ref_range_count(blocks, kinds, col, lo, hi)),
            (engine.range_agg(blocks, kinds, col, lo, hi, "v"),
             _ref_range_agg(blocks, kinds, col, lo, hi, "v")),
            (engine.range_agg(blocks, kinds, col, lo, hi, "dc"),
             _ref_range_agg(blocks, kinds, col, lo, hi, "dc"))]:
        assert got.collect() == ref.collect()
    for asc in (False, True):
        got = engine.topk_key(blocks, kinds, col, 7, ascending=asc)
        assert got.collect() \
            == _ref_topk_key(blocks, kinds, col, 7, asc).collect()


@pytest.mark.parametrize("kind", list(KEYS))
def test_sql_builders_answer(tables, kind):
    kinds, blocks = tables[0], tables[1][kind]
    col, key = KEYS[kind]
    lo, hi = _bounds(kind)
    ids = lambda df: sorted(r.id for r in df.collect())  # noqa: E731
    assert ids(engine.lookup(blocks, kinds, col, key(123))) == [123]
    assert ids(engine.lookup_in(blocks, kinds, col,
                                [key(i) for i in (5, 500, 995)])) \
        == [5, 500, 995]
    exp = range(100, 651)
    assert engine.range_count(blocks, kinds, col, lo, hi) \
        .first().n_rows == len(exp)
    got = engine.range_agg(blocks, kinds, col, lo, hi, "v").first()
    assert tuple(got) == (len(exp), 3 * sum(exp), 300, 1950)
    assert [r.id for r in engine.topk_key(blocks, kinds, col, 3).collect()] \
        == [999, 998, 997]
    assert ids(engine.lookup_where(blocks, kinds, "s", _sval(77))) == [77]


def test_query_job_budget(spark, tables, jobs):
    """Range aggregates and top-k run at most two Spark jobs each —
    building the query included. On a bare scan whose kept blocks fit
    one input split they run none: the block index answers the
    interior blocks, and the boundary blocks and top-k's kept blocks
    are read and decoded on the driver. On a frame that is not a bare
    scan the metadata-split builders run at most two, the index
    collect and one payload job, and top-k exactly those two."""
    kinds, blocks = tables[0], tables[1]["i64"]
    builders = {
        "topk_key": lambda: engine.topk_key(blocks, kinds, "id", 7),
        "topk_by": lambda: engine.topk_by(blocks, kinds, "v", 7,
                                          ascending=True),
        "range_agg": lambda: engine.range_agg(blocks, kinds, "id", 100,
                                              650, "v"),
        "agg_where": lambda: engine.agg_where(blocks, kinds, "v", 300,
                                              1950, "id"),
        "range_count": lambda: engine.range_count(blocks, kinds, "id",
                                                  100, 650),
    }
    for name, build in builders.items():
        assert jobs(lambda: build().collect()) == 0, name
    blocks = blocks.select("*")
    for name, build in {
            "topk_key_all": lambda: engine.topk_key(blocks, kinds, "id", 7),
            "topk_by_all": lambda: engine.topk_by(blocks, kinds, "v", 7,
                                                  ascending=True)}.items():
        assert jobs(lambda: build().collect()) == 2, name
    for name, build in {
            "range_agg_all": lambda: engine.range_agg(
                blocks, kinds, "id", 100, 650, "v"),
            "agg_where_all": lambda: engine.agg_where(
                blocks, kinds, "v", 300, 1950, "id"),
            "range_count_all": lambda: engine.range_count(
                blocks, kinds, "id", 100, 650),
            "count_where_all": lambda: engine.count_where(
                blocks, kinds, "v", 300, 1950),
            "count_where_multi_all": lambda: engine.count_where_multi(
                blocks, kinds, [("id", 100, 650), ("v", 0, 900)]),
            "null_count_all": lambda: engine.null_count(
                blocks, kinds, "v")}.items():
        assert jobs(lambda: build().collect()) <= 2, name


@pytest.mark.parametrize("v", [0, -5, 2 ** 63 - 1, -2 ** 63])
def test_int_literal_round_trips(spark, v):
    assert engine._sql_lit(v) == f"{v}L"
    got = spark.range(1).selectExpr(f"{engine._sql_lit(v)} AS v").first()
    assert got.v == v


@pytest.mark.parametrize("s", ["", "plain", "a'b", "a\\'b", "x`y", "é—中",
                               "' OR 1=1 --", "\\", "''", "\n\t"])
def test_str_literal_is_not_injectable(spark, s):
    lit = engine._sql_lit(s)
    assert re.fullmatch(r"CAST\(X'[0-9a-f]*' AS STRING\)", lit)
    name = engine._q("we`ird")
    assert name == "`we``ird`"
    df = spark.createDataFrame([(s,), ("other",)], f"{name} string")
    assert df.selectExpr(f"{lit} AS v").first().v == s
    # the quoted name and the literal resolve together in one filter
    assert df.filter(f"{name} = {lit}").count() == 1


def test_str_literal_folds_to_a_pushed_filter(tables):
    blocks = tables[1]["str"]
    df = blocks.filter(f"key_slo <= {engine._sql_lit(_sval(5))}")
    pushed = _plan(df)[1]
    assert pushed and "LessThanOrEqual(key_slo," in pushed[0]
    assert ODD in pushed[0]


def test_builders_capture_few_call_sites(spark, tables, monkeypatch):
    utils = pytest.importorskip("pyspark.errors.utils")
    if not hasattr(utils, "_capture_call_site"):
        pytest.skip("this PySpark records no Column call sites")
    calls = [0]
    stock = utils._capture_call_site

    def counted(depth):
        calls[0] += 1
        return stock(depth)

    monkeypatch.setattr(utils, "_capture_call_site", counted)
    F.col("x").isNull()
    if not calls[0]:
        pytest.skip("call-site capture is off in this session")
    kinds, blocks = tables[0], tables[1]["i64"]
    for build in (lambda: engine.lookup(blocks, kinds, "id", 5),
                  lambda: engine.lookup_in(blocks, kinds, "id",
                                           list(range(300, 316))),
                  lambda: engine.range_agg(blocks, kinds, "id", 10, 500,
                                           "v"),
                  lambda: engine.topk_key(blocks, kinds, "id", 7)):
        calls[0] = 0
        build()
        assert calls[0] <= 4
