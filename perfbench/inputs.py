"""Benchmark inputs: the seeded transcript table, the events table and
seeded query streams.

The transcript table and the query streams are pure functions of
``seed`` and the size constants, so the same seed gives byte-identical
parquet files and query streams. The generators live in the benchmark,
not in the program under test: a change to ``oroch_spark`` can never
change what it is measured on.

The transcript table follows the engine's fixture shape (conv_id,
turn_idx, role, text, tool, ts; Zipf conversation lengths, token-soup
text), cut to an exact turn count so that every seed does the same
amount of work.

The events table is not generated: ``data/events.parquet`` is a
read-only copy of the scale-factor-0.1 ``events`` test table (100,000
rows sorted by a dense ``event_id`` 0..99,999; 1,500 users, five
event types). Only the query stream over it is seeded.
"""
from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TRANSCRIPT_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
TRANSCRIPT_KEYS = ["conv_id", "turn_idx"]
ROLES = np.array(["user", "assistant", "system", "tool"])
ROLE_P = [0.42, 0.42, 0.04, 0.12]
TOOLS = np.array([f"tool_{t}" for t in
                  ["search", "calc", "code", "sql", "web", "files",
                   "mail", "cal", "img", "map", "api", "shell"]])
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "data", "events.parquet")
QUERY_KINDS = ("lookup_hit", "lookup_miss", "lookup_in", "range_agg",
               "group_count", "topk_key", "approx_distinct", "ds_filter")
# parquet write policy for every generated input (stated in CHANGES.md)
PARQUET_OPTS = {"compression": "snappy", "row_group_size": 1 << 20}
EPOCH_US = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z


def _vocab(rng: np.random.Generator, size: int = 512) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return np.array(["".join(letters[rng.integers(0, 26, rng.integers(3, 10))])
                     + str(i % 10) for i in range(size)])


def transcript_table(seed: int, turns: int) -> pa.Table:
    """Exactly ``turns`` rows, conversations in (conv_id, turn_idx)
    order."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
    vocab = _vocab(rng)
    lens = []
    total = 0
    while total < turns:
        n = int(min(2000, rng.zipf(1.2)))
        lens.append(n)
        total += n
    lens[-1] -= total - turns
    lens = np.array(lens, dtype=np.int64)
    conv = np.repeat(np.arange(len(lens)), lens)
    turn_idx = (np.arange(turns) - np.repeat(np.cumsum(lens) - lens, lens))
    roles = ROLES[rng.choice(4, size=turns, p=ROLE_P)]
    tool = np.where(roles == "tool", TOOLS[rng.integers(0, len(TOOLS), turns)],
                    "")
    nchars = np.clip(rng.lognormal(4.0, 1.0, turns), 0, 8000).astype(np.int64)
    nchars[rng.random(turns) < 0.02] = 0
    nwords = np.where(nchars == 0, 0, np.maximum(1, nchars // 8))
    offsets = np.concatenate([[0], np.cumsum(nwords)]).astype(np.int32)
    words = pa.array(vocab).take(
        pa.array(rng.integers(0, len(vocab), int(offsets[-1]))))
    text = pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), words),
                          " ")
    gaps = (rng.exponential(60.0, turns) + 1.0).clip(1, 300) * 1_000_000
    gaps[turn_idx == 0] = 0
    cum = np.cumsum(gaps)
    first = np.repeat(np.cumsum(lens) - lens, lens)  # row of turn 0
    ts = EPOCH_US + conv * 3_600_000_000 + (cum - cum[first])
    return pa.table({
        "conv_id": pa.array(np.char.add("conv-", np.char.zfill(
            conv.astype(str), 8))),
        "turn_idx": pa.array(turn_idx.astype(np.int32)),
        "role": pa.array(roles),
        "text": text,
        "tool": pa.array(tool),
        "ts": pa.array(ts.astype(np.int64), type=pa.timestamp("us")),
    })


def write_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Contiguous row slices, one parquet file each (clustered layout)."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * per, per),
                       os.path.join(out_dir, f"part-{k:04d}.parquet"),
                       **PARQUET_OPTS)


def _generator_digest() -> str:
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def cached_transcripts(cache_root: str, seed: int, rows: int,
                       n_files: int) -> str:
    """Parquet directory of the generated transcript table, cached by
    (seed, rows, files, generator source). Only inputs live in the
    cache; every table the engine produces is rebuilt by each run."""
    key = f"transcripts-s{seed}-r{rows}-f{n_files}-{_generator_digest()}"
    out = os.path.join(cache_root, key)
    if not os.path.exists(os.path.join(out, "_READY")):
        shutil.rmtree(out, ignore_errors=True)
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_files(transcript_table(seed, rows), tmp, n_files)
        with open(os.path.join(tmp, "_READY"), "w") as f:
            f.write("ok")
        try:
            os.rename(tmp, out)
        except OSError:  # another run finished the same key first
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def query_stream(seed: int, n_cycles: int, rows: int) -> list[dict]:
    """Seeded point-query stream: each cycle is a shuffled permutation
    of every kind in QUERY_KINDS, so any whole number of cycles holds
    the same mix. Keys refer to an events table whose ``event_id`` runs
    densely over 0..rows-1: hits lie inside it, misses in the next
    ``rows`` ids, and an IN-list draws from both."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 3]))
    out = []
    for _ in range(n_cycles):
        for i in rng.permutation(len(QUERY_KINDS)):
            kind = QUERY_KINDS[int(i)]
            q = {"kind": kind}
            if kind == "lookup_hit":
                q["key"] = int(rng.integers(0, rows))
            elif kind == "lookup_miss":
                q["key"] = rows + int(rng.integers(0, rows))
            elif kind == "lookup_in":
                q["keys"] = sorted({int(k) for k in
                                    rng.integers(0, rows + rows // 8, 16)})
            elif kind in ("range_agg", "ds_filter"):
                lo = int(rng.integers(0, rows - rows // 10))
                q["lo"], q["hi"] = lo, lo + rows // 10
                if kind == "ds_filter":
                    q["event_type"] = str(EVENT_TYPES[rng.integers(0, 5)])
            elif kind == "topk_key":
                q["k"] = int(rng.integers(5, 20))
                q["ascending"] = bool(rng.integers(0, 2))
            out.append(q)
    return out


def stream_bytes(stream: list[dict]) -> bytes:
    return json.dumps(stream, sort_keys=True).encode()
