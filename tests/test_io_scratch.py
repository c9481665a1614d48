"""Scratch paths, memo keys and write-once commits are decided in
eclypsium_etl_spark.io alone: the memo_key rule, build_once staging
(q252/q253/q291), pin's read-back, and a lint that keeps every other
engine module off its own temp root and exit hooks."""

from __future__ import annotations

import ast
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from eclypsium_etl_spark import io
from eclypsium_etl_spark.registry import load_all

from .conftest import SF_SMOKE, spark_jobs

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "eclypsium_etl_spark",
)


def _fixture(root, sub: str) -> str:
    """A one-table copy of the smoke fixture's documents at root/sub."""
    d = os.path.join(str(root), sub)
    os.makedirs(d)
    shutil.copyfile(
        os.path.join(SF_SMOKE, "documents.parquet"),
        os.path.join(d, "documents.parquet"),
    )
    st = os.stat(os.path.join(SF_SMOKE, "documents.parquet"))
    os.utime(os.path.join(d, "documents.parquet"), (st.st_atime, st.st_mtime))
    return d


def test_memo_key_rule(tmp_path):
    a = _fixture(tmp_path, "a/sf0.01")
    b = _fixture(tmp_path, "b/sf0.01")
    key = io.memo_key("shingles", a, "documents.parquet", params=(4,))
    assert re.fullmatch(r"shingles_[A-Za-z0-9_]+", key)
    assert key == io.memo_key("shingles", a, "documents.parquet", params=(4,))
    # same basename, same source stamp: the full path alone separates them
    assert key != io.memo_key("shingles", b, "documents.parquet", params=(4,))
    # basenames that sanitize alike
    c, d = _fixture(tmp_path, "c/sf0.1"), _fixture(tmp_path, "c/sf0_1")
    assert io.memo_key("t", c, "documents.parquet") != io.memo_key(
        "t", d, "documents.parquet"
    )
    # any param
    assert key != io.memo_key("shingles", a, "documents.parquet", params=(8,))
    assert key != io.memo_key("shingles", a, "documents.parquet")
    # a restamped source
    src = os.path.join(a, "documents.parquet")
    st = os.stat(src)
    os.utime(src, (st.st_atime, st.st_mtime + 5))
    assert key != io.memo_key("shingles", a, "documents.parquet", params=(4,))
    with pytest.raises(ValueError):
        io.memo_key("not-an-identifier", a)


def _calls(tree, attr: str, owner: str | None = None) -> list[int]:
    return [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == attr
        and (
            owner is None
            or (isinstance(n.func.value, ast.Name) and n.func.value.id == owner)
        )
    ]


def test_scratch_root_and_exit_hooks_live_in_io():
    """Only io.py (and session.py's warehouse conf) resolves the temp
    root, and only io.py registers exit hooks: every other module takes
    its paths from io.scratch_path / io.scratch_dir / io.pin."""
    tmp_roots, exit_hooks = {}, {}
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, PKG)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            if _calls(tree, "gettempdir"):
                tmp_roots[rel] = _calls(tree, "gettempdir")
            if _calls(tree, "register", owner="atexit"):
                exit_hooks[rel] = _calls(tree, "register", owner="atexit")
    assert set(tmp_roots) <= {"io.py", "session.py"}, tmp_roots
    assert set(exit_hooks) <= {"io.py"}, exit_hooks


def test_build_once_replaces_an_unmarked_leftover(tmp_path):
    out = str(tmp_path / "memo")
    os.makedirs(out)
    with open(os.path.join(out, "stale"), "w") as fh:
        fh.write("partial")

    def write(path):
        os.makedirs(path)
        with open(os.path.join(path, "part-0"), "w") as fh:
            fh.write("data")

    io.build_once(out, write)
    assert sorted(os.listdir(out)) == ["_SUCCESS", "part-0"]
    io.build_once(out, lambda path: pytest.fail("a marked memo was rebuilt"))


_STAGING_TAGS = {
    "q252_binary_file_source": "q252_files",
    "q253_tar_packed_assets": "q253_tars",
    "q291_zip_packed_assets": "q291_zips",
}


@pytest.mark.parametrize("name", sorted(_STAGING_TAGS))
def test_file_staging_is_write_once(spark, tmp_path, name):
    """A second call writes nothing: every staged file keeps its mtime."""
    sf = _fixture(tmp_path, "sf")
    tag = _STAGING_TAGS[name]
    out = io.scratch_path(io.memo_key(tag, sf, "documents.parquet"))
    q = load_all()[0][name]
    try:
        first = sorted(q(spark, sf).collect())
        stamps = {e.name: e.stat().st_mtime_ns for e in os.scandir(out)}
        assert "_SUCCESS" in stamps and len(stamps) > 1
        second = sorted(q(spark, sf).collect())
        assert {e.name: e.stat().st_mtime_ns for e in os.scandir(out)} == stamps
        assert first == second
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_file_staging_replaces_an_unmarked_leftover(spark, tmp_path):
    """A directory without the marker (a crashed stager) is rebuilt,
    never read: its stray file does not reach the result."""
    sf = _fixture(tmp_path, "sf")
    out = io.scratch_path(io.memo_key("q252_files", sf, "documents.parquet"))
    os.makedirs(out)
    with open(os.path.join(out, "doc_999999.txt"), "wb") as fh:
        fh.write(b"stray")
    try:
        rows = load_all()[0]["q252_binary_file_source"](spark, sf).collect()
        n_docs = spark.read.parquet(os.path.join(sf, "documents.parquet")).count()
        assert len(rows) == n_docs
        assert 999999 not in {r.doc_id for r in rows}
        assert os.path.exists(os.path.join(out, "_SUCCESS"))
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_pin_reads_back_without_a_job(spark, tmp_path):
    """io.pin launches exactly the jobs of its write: the read-back takes
    the written DataFrame's schema instead of inferring it."""
    df = spark.range(2000).select(
        "id", (F.col("id") % 7).alias("v"), F.lit("x").alias("s")
    )
    _, write_jobs = spark_jobs(
        spark, lambda: df.write.parquet(str(tmp_path / "plain"))
    )
    pinned, pin_jobs = spark_jobs(spark, lambda: io.pin(df, "probe"))
    assert len(pin_jobs) == len(write_jobs)
    assert pinned.dtypes == df.dtypes
    assert sorted(pinned.collect()) == sorted(df.collect())
