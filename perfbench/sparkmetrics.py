"""Spark session set-up and Spark's own job, stage and SQL metrics.

The crossing counters are the SQL metrics Spark keeps on each Python
``MapInArrow`` node; their raw values are read from the JVM's
accumulator registry after each action. Job and task counts come from
the status tracker, JVM GC time from the status store's stage data.
"""
from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError

# SQL metric name on a Python plan node -> benchmark counter
PY_NODE_METRICS = {
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "time to start Python workers": "worker_start_ms",
    "time to initialize Python workers": "worker_init_ms",
    "time to run Python workers": "python_run_ms",
}


def build_session(work_dir: str, cores: int, memory: str):
    """One local Spark session with the benchmark's fixed policy:
    local[cores], G1 GC, C1-only JIT, in-memory catalog, UTC, snappy
    parquet with microsecond timestamps, temporary files inside
    ``work_dir``.

    C1 only: with the default tiered JIT a fresh JVM spends 30-50% of
    its CPU for well over a minute compiling Spark's planner, so a short
    run would measure the compiler's warm-up rather than the op. C1
    reaches its steady state within the first query cycle."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = ("-XX:+UseG1GC -XX:TieredStopAtLevel=1 -XX:-UsePerfData "
                 f"-Djava.io.tmpdir={tmp} -Duser.timezone=UTC")
    return (SparkSession.builder.master(f"local[{cores}]")
            .appName("oroch-perfbench")
            .config("spark.driver.memory", memory)
            .config("spark.driver.extraJavaOptions", java_opts)
            .config("spark.local.dir", tmp)
            .config("spark.sql.warehouse.dir", os.path.join(work_dir, "wh"))
            .config("spark.sql.catalogImplementation", "in-memory")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.shuffle.partitions", str(2 * cores))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.parquet.compression.codec", "snappy")
            .config("spark.sql.parquet.outputTimestampType",
                    "TIMESTAMP_MICROS")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.log.level", "ERROR")
            .getOrCreate())


class SparkProbe:
    """Attributes Spark jobs, tasks, GC and Python-node SQL metrics to
    one benchmark op: ``begin`` before the op, ``end`` after it."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._acc = self.sc._jvm.org.apache.spark.util.AccumulatorContext
        self._group = 0
        self._n_exec = 0

    def begin(self) -> str:
        self._bus.waitUntilEmpty(10000)
        self._n_exec = self._sql.executionsList().size()
        self._group += 1
        gid = f"perfbench-op-{self._group}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def end(self, gid: str) -> dict:
        self._bus.waitUntilEmpty(10000)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        st = self.sc.statusTracker()
        out = {"jobs": 0, "tasks": 0, "jvm_gc_ms": 0.0, "rows_from_python": 0,
               "reader_bytes": 0}
        out.update({v: 0.0 for v in PY_NODE_METRICS.values()})
        for jid in st.getJobIdsForGroup(gid):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    out["tasks"] += sinfo.numTasks
                try:
                    out["jvm_gc_ms"] += float(
                        self._app.lastStageAttempt(sid).jvmGcTime())
                except Py4JJavaError:  # skipped stage: no attempt
                    pass
        execs = self._sql.executionsList()
        for i in range(self._n_exec, execs.size()):
            self._add_python_nodes(execs.apply(i).executionId(), out)
        return out

    def _value(self, acc_id: int) -> float:
        o = self._acc.get(acc_id)
        return float(o.get().value()) if o.isDefined() else 0.0

    def _add_python_nodes(self, exec_id: int, out: dict) -> None:
        nodes = self._sql.planGraph(exec_id).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            ms = node.metrics()
            named = {ms.apply(k).name(): ms.apply(k).accumulatorId()
                     for k in range(ms.size())}
            if "time to run Python workers" in named:
                for metric, key in PY_NODE_METRICS.items():
                    if metric in named:
                        out[key] += self._value(named[metric])
                if "number of output rows" in named:
                    out["rows_from_python"] += self._value(
                        named["number of output rows"])
            elif "data returned from Python workers" in named:
                # Python data source scan (format("oroch") reader)
                out["reader_bytes"] += self._value(
                    named["data returned from Python workers"])

