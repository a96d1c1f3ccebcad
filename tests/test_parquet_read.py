"""``sources.io.read_parquet``: the package's one parquet reader.

It reads the schema from one footer on the driver instead of letting
Spark infer it in a one-task job. Pinned here:

- exactness: the schema and ``semanticHash`` equal a plain
  ``spark.read.parquet`` read, and the footer path was really taken;
- fallbacks: every layout where Spark's inference does more than read
  one data footer gives exactly the plain read;
- job budgets: a table load, a flat-file read and building the SQL
  revenue query run no Spark job;
- the one-reader rule: no other package module calls ``.read.parquet(``.
"""

from __future__ import annotations

import contextlib
import os
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapreducelearnings_spark import catalog
from mapreducelearnings_spark.queries import REGISTRY
from mapreducelearnings_spark.sources import io as IO

from .conftest import SF_SMOKE, jobs_of

SF_DRIVER = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
PACKAGE = pathlib.Path(catalog.__file__).parent


@contextlib.contextmanager
def session_conf(spark, key, value):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def assert_same_read(spark, path, footer_path=True):
    """``io.read_parquet`` equals the plain read, and took the footer
    path (or the fallback, when ``footer_path`` is False)."""
    assert (IO._footer_schema(spark, path) is not None) == footer_path
    got, want = IO.read_parquet(spark, path), spark.read.parquet(path)
    assert got.schema == want.schema
    if footer_path:
        assert got.semanticHash() == want.semanticHash()
    else:
        # a stream sink's file index hashes differently on every plain
        # read, so the fallbacks compare rows
        assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
    return got


def assert_same_error(spark, path):
    with pytest.raises(Exception) as plain:
        spark.read.parquet(path)
    with pytest.raises(Exception) as ours:
        IO.read_parquet(spark, path)
    assert ours.type is plain.type


# --- exactness on the footer path --------------------------------------------


@pytest.mark.parametrize("name", catalog.TABLE_NAMES)
def test_fixture_table_schema_exact(spark, name):
    assert_same_read(spark, f"{SF_DRIVER}/{name}.parquet")


def test_nanos_file_follows_nanos_as_long_at_call_time(spark, tmp_path):
    """A TIMESTAMP(NANOS) column reads as bigint under nanosAsLong. With
    the conf off both reads fail with the same error class: the conf is
    read when the call is made."""
    path = str(tmp_path / "nanos.parquet")
    table = pa.table(
        {"ts": pa.array([1, 2_000_000_001], pa.timestamp("ns")), "v": [1, 2]}
    )
    pq.write_table(table, path, version="2.6")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    with session_conf(spark, key, "true"):
        df = assert_same_read(spark, path)
        assert dict(df.dtypes)["ts"] == "bigint"
    with session_conf(spark, key, "false"):
        assert_same_error(spark, path)


def test_ntz_file_follows_infer_ntz_at_call_time(spark, tmp_path):
    path = str(tmp_path / "ntz.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([0, 10**12], pa.timestamp("us"))}), path
    )
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    for enabled, dtype in (("true", "timestamp_ntz"), ("false", "timestamp")):
        with session_conf(spark, key, enabled):
            assert dict(assert_same_read(spark, path).dtypes)["ts"] == dtype


def test_spark_written_non_nullable_columns(spark, tmp_path):
    """The footer embeds Spark's schema with nullable=false; both reads
    turn it nullable the same way."""
    path = str(tmp_path / "nonnull")
    df = spark.range(5).selectExpr("id", "CAST(id AS INT) AS i")
    assert not df.schema["id"].nullable
    IO.write_parquet(df, path)
    assert_same_read(spark, path)


def test_variant_file_exact_and_ignore_annotation_falls_back(spark, tmp_path):
    """Spark's inference converts with the default variant flag while the
    session-conf converter reads the session's, so a session that sets
    ``ignoreVariantAnnotation`` takes the plain read."""
    path = str(tmp_path / "variant")
    spark.sql("""SELECT parse_json('{"a": 1}') AS v, 1 AS i""").write.parquet(path)
    key = "spark.sql.parquet.ignoreVariantAnnotation"
    with session_conf(spark, key, "false"):
        assert dict(assert_same_read(spark, path).dtypes)["v"] == "variant"
    with session_conf(spark, key, "true"):
        assert_same_read(spark, path, footer_path=False)


def test_multi_file_dir_picks_first_data_file(spark, tmp_path):
    """Spark infers from the first data file by path; ``_SUCCESS``,
    ``.crc`` and other hidden files sort before it and are skipped. The
    files' schemas differ, so a wrong pick shows."""
    path = tmp_path / "multi"
    IO.write_parquet(spark.range(6).repartition(3), str(path))
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    # sorts before Spark's part-00000-… files ('.' < '0')
    pq.write_table(pa.table({"id": [9], "extra": ["x"]}), path / "part-0.parquet")
    pq.write_table(pa.table({"hidden": [1.5]}), path / ".a.parquet")
    df = assert_same_read(spark, str(path))
    assert df.columns == ["id", "extra"]


# --- fallbacks: the plain read, unchanged --------------------------------------


def test_hive_partitioned_dir_falls_back(spark, tmp_path):
    path = str(tmp_path / "hive")
    df = spark.range(6).selectExpr("id", "id % 2 AS cell")
    df.write.partitionBy("cell").parquet(path)
    assert "cell" in assert_same_read(spark, path, footer_path=False).columns


def test_plain_sub_directory_falls_back(spark, tmp_path):
    """Without partition columns Spark reads only the top-level files,
    though ``a/c.parquet`` sorts before ``b.parquet``."""
    path = tmp_path / "nested"
    (path / "a").mkdir(parents=True)
    pq.write_table(pa.table({"y": [1]}), path / "a" / "c.parquet")
    pq.write_table(pa.table({"x": [2]}), path / "b.parquet")
    df = assert_same_read(spark, str(path), footer_path=False)
    assert df.columns == ["x"]


def test_summary_metadata_file_falls_back(spark, tmp_path):
    """Spark's inference prefers a ``_metadata`` summary over the data
    footers; here the summary's schema differs from the data's."""
    path = tmp_path / "summary"
    path.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), path / "part-0.parquet")
    summary = pa.schema([("a", pa.int64()), ("b", pa.string())])
    pq.write_metadata(summary, path / "_metadata")
    df = assert_same_read(spark, str(path), footer_path=False)
    assert df.columns == ["a", "b"]


def test_merge_schema_session_falls_back(spark, tmp_path):
    path = tmp_path / "merge"
    path.mkdir()
    pq.write_table(pa.table({"a": [1]}), path / "part-0.parquet")
    pq.write_table(pa.table({"b": ["x"]}), path / "part-1.parquet")
    with session_conf(spark, "spark.sql.parquet.mergeSchema", "true"):
        df = assert_same_read(spark, str(path), footer_path=False)
        assert sorted(df.columns) == ["a", "b"]
    assert assert_same_read(spark, str(path)).columns == ["a"]


def test_stream_sink_dir_falls_back(spark, tmp_path):
    """A file-sink output lists its committed files in ``_spark_metadata``;
    an uncommitted file that sorts first must not set the schema."""
    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), src / "part-0.parquet")
    q = (
        spark.readStream.schema("a BIGINT")
        .parquet(str(src))
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start(str(out))
    )
    q.awaitTermination()
    pq.write_table(pa.table({"z": ["stray"]}), out / "a-uncommitted.parquet")
    df = assert_same_read(spark, str(out), footer_path=False)
    assert df.columns == ["a"]


def test_glob_falls_back(spark, tmp_path):
    path = tmp_path / "glob"
    path.mkdir()
    pq.write_table(pa.table({"a": [1]}), path / "part-0.parquet")
    assert_same_read(spark, f"{path}/*.parquet", footer_path=False)


def test_empty_dir_raises_like_plain_read(spark, tmp_path):
    path = str(tmp_path / "empty")
    os.mkdir(path)
    assert IO._footer_schema(spark, path) is None
    assert_same_error(spark, path)


# --- job budgets ----------------------------------------------------------------


def test_table_loads_run_no_job(spark):
    for name in catalog.TABLE_NAMES:
        _, jobs = jobs_of(spark, lambda: catalog.load_table(spark, SF_DRIVER, name))
        assert jobs == 0, name


def test_flat_file_read_runs_no_job(spark):
    """The plain read infers in one job, the footer read in none."""
    path = f"{SF_DRIVER}/lineitem.parquet"
    assert jobs_of(spark, lambda: spark.read.parquet(path))[1] == 1
    assert jobs_of(spark, lambda: IO.read_parquet(spark, path))[1] == 0


def test_sql_revenue_by_nation_builds_without_jobs(spark):
    spec = REGISTRY["sql_revenue_by_nation"]
    _, jobs = jobs_of(spark, lambda: spec.spark(spark, SF_DRIVER))
    assert jobs == 0


# --- the one-reader rule ------------------------------------------------------


def test_only_sources_io_reads_parquet():
    """Every package parquet read goes through ``io.read_parquet``."""
    reader = PACKAGE / "sources" / "io.py"
    offenders = [
        str(p.relative_to(PACKAGE))
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != reader and ".read.parquet(" in p.read_text()
    ]
    assert offenders == []
