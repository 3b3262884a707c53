"""The benchmark's workloads. Each one is a closed loop driven by one
client (this process): the next op starts when the previous one and its
output check have finished.

A workload provides
  ``build()``       engine-produced fixtures, rebuilt by every run and
                    timed as set-up;
  ``prepare()``     reference answers and warm-up, outside every metric;
  ``next_op()``     the next op's parameters, seeded;
  ``run(op, tr)``   one timed op through public ``oroch_spark`` entry
                    points, with spans around each call into a layer;
  ``check(op, r)``  whether the op's output is correct.
"""
from __future__ import annotations

import json
import math
import os
from statistics import median

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs
from probes import PROBE_BLOCK_ROWS
from spans import NullTracer

# four files of four full 65,536-row blocks each: one encode task per
# file, one per core of a 4-core host, so a pass is block encode work
# rather than per-task Python worker start-up
TRANSCRIPT_FILES = 4
TRANSCRIPT_TURNS = TRANSCRIPT_FILES * 4 * PROBE_BLOCK_ROWS
EVENT_ROWS = 100_000
# the engine's 65,536-row default cuts the 100,000-row events table into
# two blocks, where a keep ratio can only be 1/2 or 1; 8,192 gives 13
# range-clustered blocks, so pruning has room to show
EVENT_BLOCK_ROWS = 8192
# HLL standard error is ~2.3%; 10% is over four sigma
APPROX_TOLERANCE = 0.10


class Workload:
    name = ""
    rows_per_op = 0

    def __init__(self, spark, seed: int, cache_dir: str, run_dir: str):
        self.spark = spark
        self.seed = seed
        self.cache_dir = cache_dir
        self.run_dir = run_dir
        self.ops_issued = 0
        self.detail: dict[str, list[float]] = {}

    def prepare(self) -> None:
        pass

    def next_op(self):
        self.ops_issued += 1
        return None

    def record(self, key: str, ms: float) -> None:
        self.detail.setdefault(key, []).append(ms)

    def op_p50_ms(self, lat: list[float]) -> float:
        return median(lat)

    def op_cpu_ms(self, cpu: list[float]) -> float:
        """Per-op CPU time the run reports, from each op's CPU ms."""
        return median(cpu)

    def cycle_done(self) -> bool:
        """Whether the loop may stop after the op just issued."""
        return True

    def kept_blocks(self, op) -> tuple[str, int] | None:
        """(prune function's op, blocks it keeps), for pruned ops."""
        return None

    def named(self, lat: list[float]) -> dict[str, float]:
        """The workload's own metric names, for the detail line."""
        return {}

    def bytes_per_row(self) -> float:
        raise NotImplementedError

    def blocks_dir(self) -> str:
        raise NotImplementedError


def _layer_floor(m: dict, cores: int, passes: int) -> dict[str, float]:
    """Per-op busy time of the layers every op crosses: plan building
    in this process (span self time), Python worker start-up (summed over
    tasks, spread over the cores), an identity crossing above an empty
    job for each pass, and one empty job per Spark job. Spark's "time to
    initialize Python workers" is left out: it overlaps the JVM scan
    that feeds the worker."""
    cross = max(0.0, m["crossing.identity_ms"] - m["spark.empty_job_ms"])
    return {
        "engine": m["trace.self_ms.engine"],
        "sources": m["trace.self_ms.sources"],
        "crossing": m["crossing.worker_start_ms"] / cores + passes * cross,
        "spark": m["spark.empty_job_ms"] * m["spark.jobs_per_op"],
    }


def _blocks_bytes_per_row(blocks_dir: str) -> float:
    t = pq.read_table(blocks_dir, columns=["n", "bytes_out"])
    return pc.sum(t["bytes_out"]).as_py() / pc.sum(t["n"]).as_py()


class EncodeBulk(Workload):
    """Bulk encode of the seeded transcript table, one full pass per op.
    There is no engine fixture to build: set-up is full passes that warm
    the Python workers, checked like every op."""
    name = "encode_bulk"
    rows_per_op = TRANSCRIPT_TURNS
    WARM_PASSES = 2

    def __init__(self, *a):
        super().__init__(*a)
        self.src = inputs.cached_transcripts(
            self.cache_dir, self.seed, TRANSCRIPT_TURNS, TRANSCRIPT_FILES)
        from oroch_spark import engine
        self.engine = engine

    def _encode(self, tr):
        with tr.span("engine", "engine.encode_parquet_maponly"):
            return self.engine.encode_parquet_maponly(
                self.spark, self.src, inputs.TRANSCRIPT_KEYS,
                text_cols=["text"])

    def build(self) -> None:
        if not self.check(None, self.run(None, _NULL)):
            raise RuntimeError("set-up encode pass gave a wrong answer")

    def prepare(self) -> None:
        # the fresh JVM is still compiling the scan's hot paths after the
        # set-up passes; those compiles burn CPU the op would be charged
        for _ in range(self.WARM_PASSES):
            self.build()

    def run(self, op, tr):
        from pyspark.sql import functions as F
        blocks = self._encode(tr)
        with tr.span("spark", "action.agg"):
            row = blocks.agg(F.sum("n").alias("n"),
                             F.sum("bytes_out").alias("bo"),
                             F.sum("ref_bytes").alias("rb")).collect()[0]
        self._last = row
        return row

    def check(self, op, r) -> bool:
        return r["n"] == TRANSCRIPT_TURNS and r["bo"] <= r["rb"]

    def layer_estimate(self, m: dict, cores: int) -> dict[str, float]:
        blocks = self.rows_per_op / PROBE_BLOCK_ROWS
        est = _layer_floor(m, cores, passes=1)
        est["kernels"] = sum(m[f"kernels.encode_ms.{c}"]
                             for c in inputs.TRANSCRIPT_COLS) \
            * blocks / cores
        est["engine"] += m["engine.assembly_ms"] * blocks / cores
        est["parquet"] = m["parquet.source_read_ms"] / cores
        return est

    def bytes_per_row(self) -> float:
        return self._last["bo"] / self._last["n"]

    def named(self, lat: list[float]) -> dict[str, float]:
        return {"encode_turns_per_s": self.rows_per_op / median(lat) * 1e3,
                "bytes_per_turn": self.bytes_per_row()}

    def blocks_dir(self) -> str:
        """Written on demand, for the layer probes."""
        out = os.path.join(self.run_dir, "encode_blocks")
        if not os.path.exists(out):
            self._encode(_NULL).write.parquet(out)
        return out


def _rows(tbl: pa.Table) -> list[tuple]:
    return sorted(tuple(r.values()) for r in tbl.to_pylist())


class PointQuery(Workload):
    """Seeded mixed stream of pruned metadata/point queries over the
    events table, encoded in set-up with Bloom and sketch columns and
    read both as a blocks table and through format("oroch")."""
    name = "point_query"
    rows_per_op = EVENT_ROWS
    CYCLES = 64
    WARM_CYCLES = 1

    def __init__(self, *a):
        super().__init__(*a)
        self.src = inputs.EVENTS_PATH
        self.table = pq.read_table(self.src)
        if self.table.num_rows != EVENT_ROWS:
            raise RuntimeError(f"{self.src}: expected {EVENT_ROWS} rows")
        from oroch_spark import engine
        from oroch_spark.sources import datasource
        self.engine = engine
        self.datasource = datasource
        self.kinds = engine.arrow_column_kinds(self.table.schema)
        self.stream = inputs.query_stream(self.seed, self.CYCLES, EVENT_ROWS)

    def build(self) -> None:
        # one encoded table, read two ways: as a blocks table by the
        # engine's query functions and through format("oroch")
        self.datasource.register(self.spark)
        (self.spark.read.parquet(self.src).write.format("oroch")
         .mode("overwrite").option("key_cols", "event_id")
         .option("block_rows", str(EVENT_BLOCK_ROWS))
         .option("bloom_cols", "user_id").option("sketch_cols", "user_id")
         .save(self.blocks_dir()))
        self.blocks = self.spark.read.parquet(self.blocks_dir())

    def prepare(self) -> None:
        # the first query of each kind pays one-off costs (class loading,
        # code generation, imports in the Python workers) several times
        # its steady cost; timed ops start after it, on new queries
        for q in self.stream[:self.WARM_CYCLES * len(inputs.QUERY_KINDS)]:
            if not self.check(q, self.run(q, _NULL)):
                raise RuntimeError(f"warm-up query gave a wrong answer: {q}")
            self.ops_issued += 1

    def next_op(self):
        q = self.stream[self.ops_issued % len(self.stream)]
        self.ops_issued += 1
        return q

    def op_p50_ms(self, lat: list[float]) -> float:
        """Geometric mean of the per-kind medians: the kinds differ in
        cost by up to 3x, so a median over the mixed stream would jump
        between kinds; this weighs every kind alike."""
        meds = [median(self.detail[f"{k}_ms"]) for k in inputs.QUERY_KINDS]
        return math.exp(sum(math.log(m) for m in meds) / len(meds))

    def op_cpu_ms(self, cpu: list[float]) -> float:
        """Mean over the timed ops, which are whole cycles: every run
        holds the same mix of kinds, and a median would jump between
        kinds."""
        return sum(cpu) / len(cpu)

    def cycle_done(self) -> bool:
        return self.ops_issued % len(inputs.QUERY_KINDS) == 0

    def run(self, q, tr):
        from pyspark.sql import functions as F
        e, b, kinds, kind = self.engine, self.blocks, self.kinds, q["kind"]
        if kind == "ds_filter":
            with tr.span("sources", "sources.format_oroch.load"):
                df = (self.spark.read.format("oroch").load(self.blocks_dir())
                      .filter((F.col("event_id") >= q["lo"])
                              & (F.col("event_id") < q["hi"])
                              & (F.col("event_type") == q["event_type"])))
            with tr.span("spark", "action.count"):
                return df.count()
        with tr.span("engine", f"engine.{kind}"):
            if kind in ("lookup_hit", "lookup_miss"):
                df = e.lookup(b, kinds, "event_id", q["key"])
            elif kind == "lookup_in":
                df = e.lookup_in(b, kinds, "event_id", q["keys"])
            elif kind == "range_agg":
                df = e.range_agg(b, kinds, "event_id", q["lo"], q["hi"],
                                 "user_id")
            elif kind == "group_count":
                df = e.group_count(b, kinds, "event_type")
            elif kind == "topk_key":
                df = e.topk_key(b, kinds, "event_id", q["k"],
                                ascending=q["ascending"])
            else:
                df = e.approx_distinct(b, "user_id")
        with tr.span("spark", "action.collect"):
            return df.collect()

    def check(self, q, r) -> bool:
        t, kind = self.table, q["kind"]
        eid = t["event_id"]
        if kind in ("lookup_hit", "lookup_miss", "lookup_in"):
            keys = q["keys"] if kind == "lookup_in" else [q["key"]]
            ref = t.filter(pc.is_in(eid, pa.array(keys, pa.int64())))
            got = sorted(tuple(row) for row in r)
            return got == _rows(ref)
        if kind == "range_agg":
            sel = t.filter(pc.and_(pc.greater_equal(eid, q["lo"]),
                                   pc.less_equal(eid, q["hi"])))["user_id"]
            ref = (len(sel), pc.sum(sel).as_py(), pc.min(sel).as_py(),
                   pc.max(sel).as_py())
            return len(r) == 1 and tuple(r[0]) == ref
        if kind == "group_count":
            vc = pc.value_counts(t["event_type"])
            ref = {v["values"]: v["counts"] for v in vc.to_pylist()}
            return {row[0]: row[1] for row in r} == ref
        if kind == "topk_key":
            ids = sorted(eid.to_pylist(), reverse=not q["ascending"])
            return [row["event_id"] for row in r] == ids[:q["k"]]
        if kind == "approx_distinct":
            exact = len(pc.unique(t["user_id"]))
            return abs(r[0][0] - exact) <= APPROX_TOLERANCE * exact
        mask = pc.and_(pc.and_(pc.greater_equal(eid, q["lo"]),
                               pc.less(eid, q["hi"])),
                       pc.equal(t["event_type"], q["event_type"]))
        return r == pc.sum(mask.cast(pa.int64())).as_py()

    def layer_estimate(self, m: dict, cores: int) -> dict[str, float]:
        est = _layer_floor(m, cores, passes=1)
        est["parquet"] = m["parquet.blocks_scan_ms"]
        return est

    def named(self, lat: list[float]) -> dict[str, float]:
        return {"query_p50_ms": median(lat)}

    def kept_blocks(self, q) -> tuple[str, int] | None:
        e, kind = self.engine, q["kind"]
        if kind in ("lookup_hit", "lookup_miss"):
            return "lookup", e.prune_blocks(self.blocks, q["key"]).count()
        if kind == "lookup_in":
            return kind, e.prune_blocks_in(self.blocks, q["keys"]).count()
        if kind == "range_agg":
            return kind, e.prune_blocks_range(self.blocks, q["lo"],
                                              q["hi"]).count()
        return None

    def bytes_per_row(self) -> float:
        return _blocks_bytes_per_row(self.blocks_dir())

    def blocks_dir(self) -> str:
        return os.path.join(self.run_dir, "events")


_NULL = NullTracer()  # set-up and warm-up calls record no spans

WORKLOADS = {w.name: w for w in (EncodeBulk, PointQuery)}


def block_codecs(blocks_dir: str) -> tuple[int, dict[str, int]]:
    """(blocks, column-blocks per codec name) from the descriptors."""
    descs = pq.read_table(blocks_dir, columns=["desc"])["desc"].to_pylist()
    out: dict[str, int] = {}
    for desc in descs:
        for c in json.loads(desc)["cols"]:
            name = c["c"].split("+")[-1]
            out[name] = out.get(name, 0) + 1
    return len(descs), out
