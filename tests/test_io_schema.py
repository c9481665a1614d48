"""Pins for io.read_parquet's per-file schema cache, the read path of
io.table and io.materialize_once: a warm read launches no Spark job and
yields the inferred read's dtypes, a rewritten file is inferred again,
and a path the process cannot stat takes the plain read uncached."""

from __future__ import annotations

import os
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from eclypsium_etl_spark import io

from .conftest import FIXTURE_TABLES, SF_CHECK, spark_jobs


@pytest.fixture
def empty_cache(monkeypatch):
    monkeypatch.setattr(io, "_SCHEMA_CACHE", {})
    return io._SCHEMA_CACHE


@pytest.mark.parametrize("name", FIXTURE_TABLES)
def test_second_table_read_is_cached(spark, empty_cache, name):
    inferred, cold = spark_jobs(spark, lambda: io.table(spark, SF_CHECK, name))
    cached, jobs = spark_jobs(spark, lambda: io.table(spark, SF_CHECK, name))
    assert cold, "the first read of a file infers its schema"
    assert jobs == []
    assert cached.dtypes == inferred.dtypes
    raw = spark.read.parquet(f"{SF_CHECK}/{name}.parquet")
    pinned = io.read_parquet(spark, f"{SF_CHECK}/{name}.parquet")
    assert pinned.dtypes == raw.dtypes
    if name == "events":
        # the timestamp normalization still sees the cached dtype
        assert dict(cached.dtypes)["ts"] == "timestamp"


def test_memo_hit_launches_no_job(spark, empty_cache, tmp_path):
    out = str(tmp_path / "memo")

    def write(p):
        spark.range(20).selectExpr(
            "id", "CAST(id AS STRING) AS s", "id % 3 AS part"
        ).write.partitionBy("part").parquet(p)

    built = io.materialize_once(spark, out, write)
    hit, jobs = spark_jobs(spark, lambda: io.materialize_once(spark, out, write))
    assert jobs == []
    assert hit.dtypes == built.dtypes == spark.read.parquet(out).dtypes
    assert sorted(hit.collect()) == sorted(built.collect())


def test_rewritten_file_is_inferred_again(spark, empty_cache, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert io.read_parquet(spark, path).columns == ["a"]
    tmp = path + ".tmp"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), tmp)
    os.replace(tmp, path)  # new inode and size: a new stamp
    df, jobs = spark_jobs(spark, lambda: io.read_parquet(spark, path))
    assert df.columns == ["a", "b"]
    assert jobs, "a new stamp is inferred, not served the old schema"
    assert len([k for k in empty_cache if k[0] == path]) == 2


def test_unstatable_path_takes_plain_read_uncached(empty_cache):
    sentinel = object()
    fake = types.SimpleNamespace(
        read=types.SimpleNamespace(parquet=lambda p: sentinel)
    )
    assert io.read_parquet(fake, "s3://bucket/t.parquet") is sentinel
    assert empty_cache == {}
