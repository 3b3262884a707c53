"""CLI (spark-submit entry) end-to-end: zip, encode (maponly +
checkpointed), verify, metrics, resume-without-reencode."""
import argparse
import glob
import json
import os
import shutil
import zipfile

import pytest

import cli
from oroch_spark import engine, transcripts

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip(tmp_path) -> str:
    """``cli.make_zip`` of this checkout's package, built under
    ``tmp_path`` so no test writes into the checkout's ``dist/``."""
    root = tmp_path / "zip_root"
    shutil.copytree(os.path.join(ROOT, "oroch_spark"), root / "oroch_spark")
    return cli.make_zip(str(root))


@pytest.fixture(scope="module")
def src_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_src") / "transcripts")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    (transcripts.generate(spark, 60, seed=11, partitions=4)
     .write.mode("overwrite").parquet(d))
    return d


def _ns(spark=None, **kw):
    return argparse.Namespace(master=None, spark=spark, **kw)


def test_zip_contains_package(tmp_path):
    out = _zip(tmp_path)
    names = zipfile.ZipFile(out).namelist()
    assert "oroch_spark/engine.py" in names
    assert "oroch_spark/kernels/integers.py" in names
    assert not any("__pycache__" in n for n in names)


def test_encode_verify_metrics_roundtrip(spark, src_dir, tmp_path, capsys):
    out = str(tmp_path / "enc")
    cli.cmd_encode(_ns(spark, src=src_dir, out=out,
                       keys="conv_id,turn_idx",
                       text_cols="text", mode="maponly", buckets=8,
                       block_rows=512, buckets_per_stage=None,
                       snapshot_id=None))
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows"] == spark.read.parquet(src_dir).count()
    assert summary["bytes_out"] <= summary["ref_bytes"]

    cli.cmd_verify(_ns(spark, src=src_dir, out=out))
    assert json.loads(
        capsys.readouterr().out.strip().splitlines()[-1])["bit_identical"]

    cli.cmd_metrics(_ns(spark, out=out))
    lines = [json.loads(x) for x in capsys.readouterr().out.strip()
             .splitlines()]
    assert len(lines) == len(glob.glob(os.path.join(src_dir,
                                                    "*.parquet")))
    assert all(r["status"] == "done" for r in lines)
    assert all(r["rows_per_sec"] > 0 for r in lines)


def test_maponly_resume_skips_done_files(spark, src_dir, tmp_path,
                                         capsys):
    out = str(tmp_path / "enc2")
    cli.cmd_encode(_ns(spark, src=src_dir, out=out,
                       keys="conv_id,turn_idx",
                       text_cols="text", mode="maponly", buckets=8,
                       block_rows=512, buckets_per_stage=None,
                       snapshot_id="snap-A"))
    capsys.readouterr()
    # a second run with the same snapshot finds every file done and
    # must short-circuit without re-encoding anything
    cli.cmd_encode(_ns(spark, src=src_dir, out=out,
                       keys="conv_id,turn_idx",
                       text_cols="text", mode="maponly", buckets=8,
                       block_rows=512, buckets_per_stage=None,
                       snapshot_id="snap-A"))
    lines = [json.loads(x) for x in capsys.readouterr().out.strip()
             .splitlines()]
    assert lines[0]["resumed"] is True
    assert lines[0]["encoded_files"] == 0
    assert lines[0]["skipped_files"] == 4


def test_cli_lookup_string_key_and_range_agg(spark, src_dir, tmp_path,
                                             capsys):
    out = str(tmp_path / "enc2")
    cli.cmd_encode(_ns(spark, src=src_dir, out=out,
                       keys="conv_id,turn_idx",
                       text_cols="text", mode="maponly", buckets=8,
                       block_rows=512, buckets_per_stage=None,
                       snapshot_id=None))
    capsys.readouterr()

    # string-keyed lookup straight from the CLI surface
    cli.cmd_lookup(_ns(spark, src=src_dir, out=out, key="conv_id",
                       value="conv-00000007"))
    lines = capsys.readouterr().out.strip().splitlines()
    summary = json.loads(lines[-1])
    src = spark.read.parquet(src_dir)
    from pyspark.sql import functions as F
    exp = src.filter(F.col("conv_id") == "conv-00000007").count()
    assert summary["matches"] == exp > 0

    # range-agg over turn_idx with SUM of turn_idx itself
    cli.cmd_range_agg(_ns(spark, src=src_dir, out=out, key="conv_id",
                          lo="conv-00000000", hi="conv-00000009",
                          agg_col="turn_idx"))
    row = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    exp_row = (src.filter(F.col("conv_id") <= "conv-00000009")
                  .agg(F.count("*").alias("c"),
                       F.sum("turn_idx").alias("s"),
                       F.min("turn_idx").alias("lo"),
                       F.max("turn_idx").alias("hi")).collect()[0])
    assert (row["n_rows"], row["sum_v"], row["min_v"], row["max_v"]) \
        == (exp_row.c, exp_row.s, exp_row.lo, exp_row.hi)


def test_cli_bloom_encode_and_scan(spark, src_dir, tmp_path, capsys):
    """--bloom-cols threads through every encode mode, and `scan`
    answers --eq via lookup_where (Bloom + zone pruning) and
    --lo/--hi via scan_where (secondary zone maps)."""
    from pyspark.sql import functions as F
    out = str(tmp_path / "encb")
    cli.cmd_encode(_ns(spark, src=src_dir, out=out,
                       keys="conv_id,turn_idx",
                       text_cols="text", mode="maponly", buckets=8,
                       block_rows=512, buckets_per_stage=None,
                       snapshot_id=None, bloom_cols="tool"))
    capsys.readouterr()
    from oroch_spark import engine
    blocks = spark.read.parquet(os.path.join(out, "blocks"))
    assert blocks.filter(engine._col_stats("tool")["bm"].isNotNull()) \
        .count() == blocks.count()

    src = spark.read.parquet(src_dir)
    probe = src.select("tool").filter(F.col("tool") != "").first().tool
    cli.cmd_scan(_ns(spark, src=src_dir, out=out, col="tool",
                     eq=probe, lo=None, hi=None,
                     columns="conv_id,turn_idx,tool", limit=100000))
    summary = json.loads(capsys.readouterr().out.strip()
                         .splitlines()[-1])
    assert summary["matches"] \
        == src.filter(F.col("tool") == probe).count() > 0

    cli.cmd_scan(_ns(spark, src=src_dir, out=out, col="turn_idx",
                     eq=None, lo="3", hi="5", columns=None,
                     limit=100000))
    summary = json.loads(capsys.readouterr().out.strip()
                         .splitlines()[-1])
    assert summary["matches"] \
        == src.filter(F.col("turn_idx").between(3, 5)).count() > 0

    # staged + checkpointed modes accept the flag too (plumbing check)
    out2 = str(tmp_path / "encb2")
    cli.cmd_encode(_ns(spark, src=src_dir, out=out2,
                       keys="conv_id,turn_idx",
                       text_cols="text", mode="staged", buckets=4,
                       block_rows=512, buckets_per_stage=None,
                       snapshot_id=None, bloom_cols="tool"))
    capsys.readouterr()
    b2 = spark.read.parquet(os.path.join(out2, "blocks"))
    assert b2.filter(engine._col_stats("tool")["bm"].isNotNull()) \
        .count() == b2.count()
    out3 = str(tmp_path / "encb3")
    cli.cmd_encode(_ns(spark, src=src_dir, out=out3,
                       keys="conv_id,turn_idx",
                       text_cols="text", mode="shuffle", buckets=4,
                       block_rows=512, buckets_per_stage=None,
                       snapshot_id=None, bloom_cols="tool"))
    capsys.readouterr()
    b3 = spark.read.parquet(os.path.join(out3, "blocks"))
    assert b3.filter(engine._col_stats("tool")["bm"].isNotNull()) \
        .count() == b3.count()


def test_cli_groupby_and_topk(spark, src_dir, tmp_path, capsys):
    out = str(tmp_path / "enc3")
    cli.cmd_encode(_ns(spark, src=src_dir, out=out,
                       keys="conv_id,turn_idx",
                       text_cols="text", mode="maponly", buckets=8,
                       block_rows=512, buckets_per_stage=None,
                       snapshot_id=None))
    capsys.readouterr()
    from pyspark.sql import functions as F
    src = spark.read.parquet(src_dir)

    cli.cmd_groupby(_ns(spark, src=src_dir, out=out, col="role",
                        distinct=False, agg_col=None, limit=100))
    rows = [json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()]
    got = {r["role"]: r["n_rows"] for r in rows}
    exp = {r["role"]: r["c"] for r in
           src.groupBy("role").agg(F.count("*").alias("c")).collect()}
    assert got == exp

    cli.cmd_groupby(_ns(spark, src=src_dir, out=out, col="role",
                        distinct=True, agg_col=None, limit=100))
    vals = {json.loads(l)["role"] for l in
            capsys.readouterr().out.strip().splitlines()}
    assert vals == set(exp)

    cli.cmd_topk(_ns(spark, src=src_dir, out=out, key="conv_id", k=5,
                     asc=False, columns="conv_id,turn_idx"))
    rows = [json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()]
    exp_rows = [(r["conv_id"], r["turn_idx"]) for r in
                src.orderBy(F.col("conv_id").desc()).limit(5)
                .select("conv_id", "turn_idx").collect()]
    # ties on conv_id (the lead key repeats per turn) make row order
    # within the key nondeterministic; compare as multisets of keys
    assert sorted(r["conv_id"] for r in rows) == \
        sorted(k for k, _ in exp_rows)


def test_cli_groupby_agg(spark, src_dir, tmp_path, capsys):
    out = str(tmp_path / "enc4")
    cli.cmd_encode(_ns(spark, src=src_dir, out=out,
                       keys="conv_id,turn_idx",
                       text_cols="text", mode="maponly", buckets=4,
                       block_rows=512, buckets_per_stage=None,
                       snapshot_id=None))
    capsys.readouterr()
    from pyspark.sql import functions as F
    src = spark.read.parquet(src_dir)
    cli.cmd_groupby(_ns(spark, src=src_dir, out=out, col="role",
                        distinct=False, agg_col="turn_idx", limit=100))
    rows = [json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()]
    got = {r["role"]: (r["n_rows"], r["sum_v"]) for r in rows}
    exp = {r["role"]: (r["n"], r["s"]) for r in
           src.groupBy("role").agg(F.count("*").alias("n"),
                                   F.sum("turn_idx").alias("s"))
           .collect()}
    assert got == exp


def test_cli_analyze(spark, src_dir, tmp_path, capsys):
    out = str(tmp_path / "enc5")
    cli.cmd_encode(_ns(spark, src=src_dir, out=out,
                       keys="conv_id,turn_idx",
                       text_cols="text", mode="maponly", buckets=4,
                       block_rows=512, buckets_per_stage=None,
                       snapshot_id=None))
    capsys.readouterr()
    cli.cmd_analyze(_ns(spark, src=src_dir, out=out))
    rows = [json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()]
    by_col = {r["col"]: r for r in rows}
    n = spark.read.parquet(src_dir).count()
    assert by_col["turn_idx"]["n_rows"] == n
    assert by_col["turn_idx"]["min_long"] == 0
    assert by_col["conv_id"]["min_str"].startswith("conv-")


def test_real_spark_submit_pyfiles(tmp_path, src_dir):
    """The north-rule invocation, literally: ``spark-submit --py-files
    dist/oroch_spark.zip cli.py encode`` then ``verify`` — each in a
    FRESH JVM/driver process with the package shipped only via the
    zip, the way a real cluster submit works (no pytest Spark session,
    no repo on the executors' sys.path beyond --py-files)."""
    import subprocess

    zip_path = _zip(tmp_path)
    out = str(tmp_path / "enc")
    base = [shutil.which("spark-submit") or "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path, os.path.join(ROOT, "cli.py")]
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH",)}  # the zip must be enough
    r = subprocess.run(
        base + ["encode", "--src", src_dir, "--out", out,
                "--keys", "conv_id,turn_idx", "--text-cols", "text",
                "--mode", "maponly", "--block-rows", "4096"],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=str(tmp_path))  # not the repo dir: no implicit imports
    assert r.returncode == 0, r.stderr[-3000:]
    assert glob.glob(os.path.join(out, "blocks", "**", "*.parquet"),
                     recursive=True)
    r2 = subprocess.run(
        base + ["verify", "--src", src_dir, "--out", out],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=str(tmp_path))
    assert r2.returncode == 0, r2.stderr[-3000:]
    assert '"bit_identical": true' in r2.stdout
