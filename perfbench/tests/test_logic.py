"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""
import io
import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import run  # noqa: E402
from spans import (Span, Tracer, layer_self_ms, percentile,  # noqa: E402
                   self_times, tail_percentile)


@pytest.mark.parametrize("n, expected", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile([5.0], 99) == 5.0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, None, 0, "bench", "op", 0.0, 10.0),
        Span(1, 0, 0, "engine", "a", 1.0, 4.0),
        Span(2, 0, 0, "spark", "b", 3.0, 6.0),   # overlaps a
        Span(3, 1, 0, "kernels", "c", 2.0, 3.0),
        Span(4, 0, 0, "spark", "d", 9.0, 12.0),  # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert layer_self_ms(spans)["spark"] == pytest.approx(6000.0)


def test_tracer_nests_spans_and_inherits_op_id():
    tr = Tracer()
    with tr.span("bench", "op", op=7):
        with tr.span("engine", "plan"):
            with tr.span("spark", "action"):
                pass
    root, plan, action = tr.spans
    assert (root.parent, plan.parent, action.parent) == (None, 0, 1)
    assert {s.op for s in tr.spans} == {7}
    assert all(s.end >= s.start for s in tr.spans)


def test_tree_cpu_counts_reaped_children():
    burn = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.5:\n    pass\n")
    before = run.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert run.tree_cpu_s(os.getpid()) - before >= 0.4


def _parquet_bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf, **inputs.PARQUET_OPTS)
    return buf.getvalue()


def test_transcripts_are_a_function_of_the_seed():
    make = inputs.transcript_table
    a, b, c = make(3, 5000), make(3, 5000), make(4, 5000)
    assert a.num_rows == 5000
    assert _parquet_bytes(a) == _parquet_bytes(b)
    assert _parquet_bytes(a) != _parquet_bytes(c)


def test_query_stream_is_a_function_of_the_seed():
    a = inputs.stream_bytes(inputs.query_stream(3, 4, 1000))
    assert a == inputs.stream_bytes(inputs.query_stream(3, 4, 1000))
    assert a != inputs.stream_bytes(inputs.query_stream(4, 4, 1000))


def test_query_stream_cycles_hold_every_kind_once():
    stream = inputs.query_stream(5, 3, 1000)
    k = len(inputs.QUERY_KINDS)
    for c in range(3):
        kinds = sorted(q["kind"] for q in stream[c * k:(c + 1) * k])
        assert kinds == sorted(inputs.QUERY_KINDS)
    for q in stream:
        if q["kind"] == "lookup_hit":
            assert 0 <= q["key"] < 1000
        if q["kind"] == "lookup_miss":
            assert q["key"] >= 1000  # event ids are 0..rows-1


def test_cached_input_files_repeat_byte_for_byte(tmp_path):
    d1 = inputs.cached_transcripts(str(tmp_path / "a"), 9, 3000, 3)
    d2 = inputs.cached_transcripts(str(tmp_path / "b"), 9, 3000, 3)
    for name in sorted(os.listdir(d1)):
        with open(os.path.join(d1, name), "rb") as f1, \
                open(os.path.join(d2, name), "rb") as f2:
            assert f1.read() == f2.read()


def test_events_table_is_dense_and_sorted():
    ids = pq.read_table(inputs.EVENTS_PATH, columns=["event_id"])
    assert ids["event_id"].to_pylist() == list(range(ids.num_rows))


def test_transcripts_restart_turns_per_conversation():
    t = inputs.transcript_table(2, 4000).to_pydict()
    for i in range(1, 4000):
        if t["conv_id"][i] == t["conv_id"][i - 1]:
            assert t["turn_idx"][i] == t["turn_idx"][i - 1] + 1
            assert t["ts"][i] > t["ts"][i - 1]
        else:
            assert t["turn_idx"][i] == 0
            assert t["conv_id"][i] > t["conv_id"][i - 1]


def test_benchmark_json_names_what_run_prints():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} \
        == run.per_layer_units()
    assert [w["name"] for w in doc["workloads"]] == list(run.WORKLOAD_NAMES)
