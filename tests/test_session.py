"""Session-level fixed costs: the memoised parquet read, the input
listing it keys on, and the per-Column call-site capture being off."""

import json
import os
import uuid

import pandas as pd
import pytest
from pyspark.errors import AnalysisException
from pyspark.errors.utils import is_debugging_enabled

from sits_spark import manifest as mf
from sits_spark.session import _READ_SCHEMAS, read_parquet


def _jobs_in(spark, fn):
    """Spark job ids launched while ``fn`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"t-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read memo test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_single_file_fingerprints_differ(tmp_path):
    """A file path is fingerprinted by its own name and size, not by an
    empty directory walk (which gave every file the same md5)."""
    a, b = tmp_path / "a.parquet", tmp_path / "b.parquet"
    a.write_bytes(b"abc")
    b.write_bytes(b"abcd")
    fa, fb = mf.input_fingerprint(str(a)), mf.input_fingerprint(str(b))
    assert fa != fb
    assert "d41d8cd98f00b204e9800998ecf8427e" not in (fa, fb)  # md5 of ""
    b.write_bytes(b"abcde")  # same name, new size
    assert mf.input_fingerprint(str(b)) != fb


def test_directory_fingerprint_unchanged(tmp_path):
    """Directory inputs keep the md5 over sorted ``relpath:size`` lines
    (commit markers and dot files skipped), so existing warehouses still
    resume."""
    (tmp_path / "day=2024-01-01").mkdir()
    (tmp_path / "a.parquet").write_bytes(b"abc")
    (tmp_path / "day=2024-01-01" / "b.parquet").write_bytes(b"12345")
    (tmp_path / "_SUCCESS").write_bytes(b"")
    (tmp_path / ".a.parquet.crc").write_bytes(b"xy")
    assert mf.input_fingerprint(str(tmp_path)) == "46a48488382ad1103fda88166ab2ebea"


def test_dirs_spark_skips_leave_fingerprint_unchanged(tmp_path):
    """Directories Spark's listing skips (``.*``, ``_*`` without ``=``)
    are not input; a ``_``-named partition directory is."""
    (tmp_path / "bucket=3").mkdir()
    (tmp_path / "bucket=3" / "part-0.parquet").write_bytes(b"12345")
    before = mf.input_fingerprint(str(tmp_path))
    for d in (".hidden", "_tmp", "bucket=3/_temporary"):
        (tmp_path / d).mkdir()
        (tmp_path / d / "part-9.parquet").write_bytes(b"xyz")
    assert mf.input_fingerprint(str(tmp_path)) == before
    (tmp_path / "_part=1").mkdir()
    (tmp_path / "_part=1" / "b.parquet").write_bytes(b"xy")
    assert mf.input_fingerprint(str(tmp_path)) != before


def _sink_log(tmp_path, name, files):
    lines = [json.dumps({"path": f"file://{tmp_path}/{f}", "action": "add"}) for f in files]
    (tmp_path / "_spark_metadata" / name).write_text("\n".join(["v1", *lines]))


def test_sink_log_is_not_input_and_gates_uncommitted_files(tmp_path):
    """A file sink's ``_spark_metadata`` log changes the fingerprint only
    when it commits a data file: adding and compacting the log leave it
    unchanged, and a data file the log does not name yet (written before
    its batch's entry, not read by Spark) is not listed until it does."""
    (tmp_path / "bucket=3").mkdir()
    (tmp_path / "bucket=3" / "part-0.parquet").write_bytes(b"12345")
    before = mf.input_fingerprint(str(tmp_path))
    (tmp_path / "_spark_metadata").mkdir()
    _sink_log(tmp_path, "0", ["bucket=3/part-0.parquet"])
    assert mf.input_fingerprint(str(tmp_path)) == before
    (tmp_path / "_spark_metadata" / "0").unlink()
    _sink_log(tmp_path, "9.compact", ["bucket=3/part-0.parquet"])
    _sink_log(tmp_path, "10", [])
    assert mf.input_fingerprint(str(tmp_path)) == before

    (tmp_path / "bucket=3" / "part-1.parquet").write_bytes(b"678")
    assert mf.input_fingerprint(str(tmp_path)) == before
    _sink_log(tmp_path, "11", ["bucket=3/part-1.parquet"])
    assert [r for r, _s, _m in mf.input_listing(str(tmp_path))] == [
        "bucket=3/part-0.parquet", "bucket=3/part-1.parquet"
    ]


def test_second_read_launches_no_job_and_rewrite_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]}).to_parquet(path)

    first, jobs = _jobs_in(spark, lambda: read_parquet(spark, path))
    assert jobs  # schema inference
    second, jobs = _jobs_in(spark, lambda: read_parquet(spark, path))
    assert jobs == []
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())

    # same bytes, new mtime: a rewrite, so the schema is inferred again
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    _, jobs = _jobs_in(spark, lambda: read_parquet(spark, path))
    assert jobs

    # new contents and schema at the same path
    pd.DataFrame({"k": [7], "w": ["x"]}).to_parquet(path)
    third, jobs = _jobs_in(spark, lambda: read_parquet(spark, path))
    assert jobs
    assert third.columns == ["k", "w"]
    assert [tuple(r) for r in third.collect()] == [(7, "x")]
    # the rewrite replaced the path's one entry
    assert _READ_SCHEMAS[os.path.abspath(path)][2] == third.schema


def test_call_site_capture_off_errors_still_raise(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
    df = spark.range(3)
    with pytest.raises(AnalysisException):
        df.select("no_such_column").collect()
