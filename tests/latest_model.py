"""Brute-force latest-wins model of a streaming-sink table, for tests to
check the engine's resolver against: decode each committed batch on its
own and keep, per key, the row of the highest batch, in plain Python."""
from pyspark.sql import functions as F

from oroch_spark import engine
from oroch_spark.sources import datasource as ds


def latest_model(spark, path, kinds, key_cols, tombstone_col=None,
                 as_of_batch=None) -> dict:
    """``{key tuple: (batch id, row dict)}`` of the sink at ``path`` (as
    of ``as_of_batch``): per key its row from the highest batch, keys
    whose newest row is a ``tombstone_col`` delete left out, and that
    column dropped. A NULL key part is one key, as Python's ``None``."""
    blocks = ds.stream_sink_blocks(spark, path, as_of_batch)
    ids = sorted(r[0] for r in blocks.select("batch_id").distinct().collect())
    best = {}
    for b in ids:
        for r in engine.decode_df(blocks.filter(F.col("batch_id") == b),
                                  kinds).collect():
            best[tuple(r[c] for c in key_cols)] = (b, r.asDict())
    if tombstone_col is None:
        return best
    return {k: (b, {c: v for c, v in row.items() if c != tombstone_col})
            for k, (b, row) in best.items() if not row.get(tombstone_col)}


def sorted_rows(rows) -> list:
    """``rows`` as tuples, sorted with NULLs first."""
    return sorted(map(tuple, rows),
                  key=lambda t: [(v is not None, v) for v in t])


def model_rows(model: dict, cols) -> list:
    """The model's rows as :func:`sorted_rows` of ``cols``."""
    return sorted_rows([row[c] for c in cols] for _, row in model.values())
