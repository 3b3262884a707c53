"""Layer-attributed benchmark of oroch_spark.

    python3 perfbench/run.py --workload encode_bulk --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. One workload per process, so every
workload gets a fresh JVM. The run builds a local[nproc] Spark session,
generates (or reuses) the seeded input tables, rebuilds every
engine-encoded fixture, then drives the workload's ops in a closed loop
for ``--seconds`` and checks each op's output.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs half
the time untraced and half traced, then the layer probes, and prints
the per-layer metrics. The last stdout line is the result object;
the line before it carries the workload's own detail (wall timings,
sample counts, the tail percentile, stolen time, error rate). Spans of
a traced run are written to ``perfbench/.work/traces/``.

An op's cost is the CPU time of the whole process tree (this process,
the JVM, Python workers), not its wall time: on a shared VM the
hypervisor steals 0-40% of the CPUs from one minute to the next, which
moves wall time by more than any bound could allow, while stolen time
is not charged to a process. The CPU time is scaled to a reference
host speed by a calibration probe run between ops.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUP_REPS = 3
# CPU ms of one calibration() on the 4-vCPU Xeon VM the bounds were set
# on; op_cpu_ms is reported at that host speed
CALIB_REF_MS = 25.0
WORKLOAD_NAMES = ("encode_bulk", "point_query")
SPARK_MEMORY = "3g"

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "op_cpu_ms": "ms",
    "bytes_per_row": "B/row",
    "peak_rss_mb": "MB",
}
CODECS = ("naught", "normal", "varint", "varfor", "bitpck", "bitfor",
          "bitpfr", "delta", "plain_str", "dict_str", "rle_str", "fsst_str",
          "wsdict_str", "other")
PRUNED_OPS = ("lookup", "lookup_in", "range_agg")
LAYERS = ("kernels", "engine", "parquet", "crossing", "spark", "sources")
# layers the benchmark process itself runs, so spans can time them; the
# rest run inside Spark's executors and Python workers
SPAN_LAYERS = ("bench", "engine", "spark", "sources")
PROBE_COUNTERS = {  # per-op fields of sparkmetrics.SparkProbe
    "crossing.bytes_to_python": ("bytes_to_python", "B"),
    "crossing.bytes_from_python": ("bytes_from_python", "B"),
    "crossing.rows_from_python": ("rows_from_python", "rows"),
    "crossing.worker_start_ms": ("worker_start_ms", "ms"),
    "crossing.worker_init_ms": ("worker_init_ms", "ms"),
    "crossing.python_run_ms": ("python_run_ms", "ms"),
    "spark.jobs_per_op": ("jobs", "count"),
    "spark.tasks_per_op": ("tasks", "count"),
    "spark.jvm_gc_ms": ("jvm_gc_ms", "ms"),
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    from inputs import TRANSCRIPT_COLS
    u = {}
    for c in TRANSCRIPT_COLS:
        u[f"kernels.encode_ms.{c}"] = "ms"
    for c in TRANSCRIPT_COLS:
        u[f"kernels.decode_ms.{c}"] = "ms"
    for c in CODECS:
        u[f"kernels.codec_blocks.{c}"] = "count"
    u.update({"kernels.varint_decode_mvals_s": "Mvals/s",
              "kernels.group_decode_us": "us", "kernels.find_us": "us",
              "engine.block_encode_ms": "ms", "engine.assembly_ms": "ms",
              "engine.blocks_total": "count"})
    for o in PRUNED_OPS:
        u[f"engine.blocks_kept.{o}"] = "count"
    for o in PRUNED_OPS:
        u[f"engine.keep_ratio.{o}"] = "ratio"
    u.update({"parquet.source_read_ms": "ms", "parquet.blocks_scan_ms": "ms",
              "crossing.identity_ms": "ms", "spark.empty_job_ms": "ms",
              "sources.reader_bytes": "B"})
    u.update({k: unit for k, (_, unit) in PROBE_COUNTERS.items()})
    for layer in SPAN_LAYERS:
        u[f"trace.self_ms.{layer}"] = "ms"
    for layer in LAYERS:
        u[f"trace.est_ms.{layer}"] = "ms"
    u.update({"trace.layer_sum_share": "ratio", "trace.overhead_ms": "ms"})
    return u


# --- process-tree memory ---------------------------------------------------

def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used by this process, its descendants and the children
    they have reaped (utime, stime, cutime, cstime from /proc). Time the
    hypervisor steals from the VM is not counted."""
    ticks = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / _CLK_TCK


def calibration_ms() -> float:
    """CPU ms this thread spends on fixed interpreter and numpy work.

    Neighbours on a shared host slow every CPU second of the benchmark
    alike (cache and core sharing); run between ops, the median of this
    probe tracks how fast a CPU second was during the run."""
    import numpy as np

    t0 = time.thread_time()
    x = 0
    for i in range(100_000):
        x += i * i
    a = np.arange(200_000, dtype=np.int64)
    for _ in range(10):
        a = (a * 7 + 3) % 1_000_003
    return (time.thread_time() - t0) * 1000.0


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (this process, the JVM, Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)


# --- the run ---------------------------------------------------------------

def drive(w, seconds: float, tracer, probe, stats: dict) -> list[float]:
    """Closed loop for ``seconds``; a workload with cycles stops only at
    a cycle boundary so every run holds the same op mix."""
    lat = []
    deadline = time.perf_counter() + seconds
    while True:
        if time.perf_counter() >= deadline and w.cycle_done():
            return lat
        op = w.next_op()
        i = stats["attempted"]
        stats["attempted"] += 1
        gid = probe.begin() if probe else None
        c0, s0 = tree_cpu_s(os.getpid()), steal_s()
        t0 = time.perf_counter()
        try:
            with tracer.span("bench", "op", op=i):
                r = w.run(op, tracer)
            dt = (time.perf_counter() - t0) * 1000.0
            cpu = (tree_cpu_s(os.getpid()) - c0) * 1000.0
            stolen = (steal_s() - s0) * 1000.0
            ok = w.check(op, r)
        except Exception:  # an op that raises counts as failed
            traceback.print_exc()
            ok = False
        stats["calib"].append(calibration_ms())
        if probe:
            m = probe.end(gid)
            stats["spark"].append(m)
            kept = w.kept_blocks(op)
            if kept is not None:
                stats["kept"].setdefault(kept[0], []).append(kept[1])
            if op is not None and op.get("kind") == "ds_filter":
                stats["reader_bytes"].append(m["reader_bytes"])
        if ok:
            lat.append(dt)
            stats["cpu"].append(cpu)
            stats["steal"].append(stolen)
            if op is not None:
                w.record(f"{op['kind']}_ms", dt)
        else:
            stats["failed"] += 1
        stats["checks"] += 1


def layer_metrics(w, spark, tracer, stats, lat_untraced, lat_traced,
                  cores: int) -> dict[str, float]:
    import probes
    import workloads
    from spans import layer_self_ms

    m: dict[str, float] = {}
    m.update(probes.column_kernels(w.seed))
    m.update(probes.micro_shapes())
    m["parquet.source_read_ms"] = probes.parquet_source_read_ms(w.src)
    blocks_dir = w.blocks_dir()
    m.update(probes.spark_floors(spark, blocks_dir))
    total, counts = workloads.block_codecs(blocks_dir)
    for c in CODECS:
        m[f"kernels.codec_blocks.{c}"] = 0
    for c, n in counts.items():
        key = c if c in CODECS else "other"
        m[f"kernels.codec_blocks.{key}"] += n
    m["engine.blocks_total"] = total
    for o in PRUNED_OPS:
        kept = stats["kept"].get(o)
        m[f"engine.blocks_kept.{o}"] = sum(kept) / len(kept) if kept else 0
        m[f"engine.keep_ratio.{o}"] = m[f"engine.blocks_kept.{o}"] / total
    per_op = stats["spark"]
    for key, (field, _) in PROBE_COUNTERS.items():
        m[key] = sum(x[field] for x in per_op) / max(1, len(per_op))
    rb = stats["reader_bytes"]
    m["sources.reader_bytes"] = sum(rb) / len(rb) if rb else 0
    self_ms = layer_self_ms(tracer.spans)
    n_ops = max(1, len(lat_traced))
    for layer in SPAN_LAYERS:
        m[f"trace.self_ms.{layer}"] = self_ms.get(layer, 0.0) / n_ops
    # each layer's busy time per op, estimated from the probes and the
    # Spark counters scaled to the op's volume (spans cannot see inside
    # executors); the share says how much of the op's wall they explain
    est = w.layer_estimate(m, cores)
    for layer in LAYERS:
        m[f"trace.est_ms.{layer}"] = est.get(layer, 0.0)
    wall = median(lat_traced)
    m["trace.layer_sum_share"] = sum(est.values()) / wall
    m["trace.overhead_ms"] = wall - median(lat_untraced)
    return m


def run(args, run_dir: str, rss: RssSampler) -> tuple[dict, dict]:
    import sparkmetrics
    import workloads
    from spans import NullTracer, Tracer, percentile, tail_percentile

    cores = os.cpu_count() or 1
    t0 = time.perf_counter()
    spark = sparkmetrics.build_session(run_dir, cores, SPARK_MEMORY)
    try:
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        w = workloads.WORKLOADS[args.workload](
            spark, args.seed, os.path.join(WORK, "cache"), run_dir)
        fixture_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            w.build()
            fixture_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        w.prepare()
        prepare_s = time.perf_counter() - t0
        stats = {"attempted": 0, "failed": 0, "checks": 0, "spark": [],
                 "kept": {}, "reader_bytes": [], "cpu": [], "steal": [], "calib": []}
        detail = {"session_s": session_s, "fixture_s": fixture_s,
                  "prepare_s": prepare_s, "cores": cores}
        if not args.trace:
            lat = drive(w, args.seconds, NullTracer(), None, stats)
            metrics = {
                "setup_s": session_s + median(fixture_s),
                "op_cpu_ms": w.op_cpu_ms(stats["cpu"]) * CALIB_REF_MS
                / median(stats["calib"]),
                "bytes_per_row": w.bytes_per_row(),
                "peak_rss_mb": rss.peak / 2**20,
            }
            units = END_TO_END
        else:
            lat_u = drive(w, args.seconds / 2, NullTracer(), None, stats)
            tracer = Tracer()
            probe = sparkmetrics.SparkProbe(spark)
            lat = drive(w, args.seconds / 2, tracer, probe, stats)
            metrics = layer_metrics(w, spark, tracer, stats, lat_u, lat,
                                    cores)
            units = per_layer_units()
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
        tail = tail_percentile(len(lat))
        detail.update({
            "samples": len(lat), "op_ms": lat, "checks": stats["checks"],
            "error_rate": stats["failed"] / max(1, stats["attempted"]),
            "op_median_ms": median(lat),
            "tail_percentile": tail,
            "op_tail_ms": percentile(lat, tail) if tail else None,
            "rows_per_op": w.rows_per_op,
            "op_p50_ms": w.op_p50_ms(lat),
            "op_cpu_raw_ms": w.op_cpu_ms(stats["cpu"]),
            "calibration_ms": median(stats["calib"]),
            "op_cpu_ms_list": stats["cpu"], "op_steal_ms": stats["steal"],
            **w.named(lat),
        })
        for key, xs in w.detail.items():
            detail[f"{key[:-3]}_p50_ms"] = median(xs)
        result = {
            "correct": stats["failed"] == 0 and stats["checks"] > 0,
            "attempted": stats["attempted"],
            "failed": stats["failed"],
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()},
        }
        return result, detail
    finally:
        stop_spark(spark)


def stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait for every child process
    (JVM, Python daemon and workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path[:0] = [HERE, ROOT]
    try:
        import oroch_spark.engine  # noqa: F401  the program under test
        import oroch_spark.sources.datasource  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    # Python workers import the program from this checkout; temporary
    # files stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    rss = RssSampler()
    rss.start()
    try:
        result, detail = run(args, run_dir, rss)
    finally:
        rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
