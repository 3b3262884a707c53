"""Test helper: read a block's per-column stats out of its ``desc``
JSON with Spark SQL, to check what the encoder stored (the engine
itself reads descriptors with Python, through its block index)."""
from pyspark.sql import functions as F, types as T

from oroch_spark import engine

STATS_SCHEMA = T.StructType([T.StructField("cols", T.ArrayType(
    T.StructType([
        T.StructField("n", T.StringType()),
        T.StructField("lo", T.LongType()),
        T.StructField("hi", T.LongType()),
        T.StructField("s", T.LongType()),
        T.StructField("bm", T.StringType()),  # base64 Bloom bytes
        T.StructField("tbm", T.StringType()),  # base64 token Bloom
        T.StructField("slo", T.StringType()),  # lexicographic bounds
        T.StructField("shi", T.StringType()),
        T.StructField("z", T.IntegerType()),   # nullable flag
        T.StructField("nc", T.LongType()),     # exact null count
        T.StructField("hll", T.StringType()),  # base64 HLL registers
        T.StructField("qs", T.StringType()),   # base64 quantile summary
        T.StructField("qsf", T.StringType()),  # float quantile summary
        T.StructField("mg", T.StringType()),   # heavy-hitter summary
    ])))])


def col_stats(col: str):
    """The stats struct of ``col`` from the desc JSON, as a Column; null
    when the column has no stored stats (legacy block) or is absent
    from the block entirely (schema evolution) — get, not [0], so the
    empty match is NULL instead of an ANSI index error."""
    return F.expr(f"get(filter(from_json(desc, "
                  f"'{STATS_SCHEMA.simpleString()}').cols, "
                  f"x -> x.n = {engine._sql_lit(col)}), 0)")
