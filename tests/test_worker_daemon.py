"""The worker daemon's per-task import-cache reset: Spark's fixed archives
are skipped, everything a task can see change is still invalidated."""

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pyarrow as pa

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_ARCHIVES = ("pyspark.zip", "py4j-", "spark-core_")


def test_task_reset_skips_spark_archives(spark):
    """The worker's per-task reset (``setup_spark_files``), run inside a
    task with counting wrappers on the zip and directory finders'
    invalidation, leaves Spark's archives alone and invalidates the
    SparkFiles directory and any other zip."""

    # defined here so the task pickles it by value, not by module name
    def _reset_probe(batches):
        import io
        import tempfile
        import zipimport
        from importlib.machinery import FileFinder, PathFinder

        from pyspark import worker_util
        from pyspark.core.files import SparkFiles
        from pyspark.serializers import write_int, write_with_length

        for _ in batches:
            pass
        root = SparkFiles.getRootDirectory()
        PathFinder.find_spec("_sits_absent_module")  # a finder per sys.path entry
        seen = {"zip": [], "dir": []}
        zip_inv, dir_inv = zipimport.zipimporter.invalidate_caches, FileFinder.invalidate_caches

        def count_zip(self):
            seen["zip"].append(self.archive)
            return zip_inv(self)

        def count_dir(self):
            seen["dir"].append(self.path)
            return dir_inv(self)

        infile = io.BytesIO()
        write_with_length(root.encode(), infile)
        write_int(0, infile)  # no python includes
        infile.seek(0)
        with tempfile.TemporaryDirectory() as tmp:
            # a zip that is not one of Spark's, as an addPyFile zip appears
            other = os.path.join(tmp, "shipped.zip")
            with zipfile.ZipFile(other, "w") as z:
                z.writestr("shipped_mod.py", "VALUE = 1\n")
            sys.path_importer_cache[other] = zipimport.zipimporter(other)
            zipimport.zipimporter.invalidate_caches = count_zip
            FileFinder.invalidate_caches = count_dir
            try:
                worker_util.setup_spark_files(infile)
            finally:
                zipimport.zipimporter.invalidate_caches = zip_inv
                FileFinder.invalidate_caches = dir_inv
                del sys.path_importer_cache[other]
        present = sorted({
            f.archive for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        })
        out = {"root": root, "other": other, "present": present, **seen}
        yield pa.RecordBatch.from_pydict({"out": [json.dumps(out)]})

    [row] = spark.range(8).coalesce(1).mapInArrow(_reset_probe, "out string").collect()
    got = json.loads(row.out)
    spark_zips = [
        a for a in got["present"]
        if os.path.basename(a).startswith(SPARK_ARCHIVES)
    ]
    # the worker imports pyspark from Spark's zip, so the saving is real
    assert any(a.endswith("pyspark.zip") for a in spark_zips), got["present"]
    assert not set(spark_zips) & set(got["zip"]), got["zip"]
    assert got["other"] in got["zip"]
    assert got["root"] in got["dir"]


def test_daemon_refuses_a_reset_it_cannot_hook():
    """A pyspark whose task reset no longer goes through
    ``worker_util.importlib`` stops the daemon at import."""
    code = textwrap.dedent("""
        import pyspark.worker_util as wu
        wu.setup_spark_files = lambda infile: None
        import sits_spark.worker_daemon
    """)
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": REPO}, timeout=120,
    )
    assert proc.returncode != 0
    assert "ImportError" in proc.stderr and "re-hooked" in proc.stderr


_SHIPPED_SCRIPT = """
import json, os, sys, zipfile
import pyarrow as pa
from sits_spark.session import get_spark

work = sys.argv[1]
spark = get_spark(master="local[1]", app_name="shipped-files", shuffle_partitions=1)
sc = spark.sparkContext

def importer(name):
    def fn(batches):
        import importlib
        for _ in batches:
            pass
        mod = importlib.import_module(name) if name else None
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "value": [getattr(mod, "VALUE", 0)]}
        )
    return fn

def run(name):
    [r] = spark.range(1).coalesce(1).mapInArrow(
        importer(name), "pid long, value long").collect()
    return [r.pid, r.value]

out = [run(None), run(None)]  # warm, reused worker
for i, name in enumerate(("shipped_first", "shipped_second")):
    path = os.path.join(work, name + ".py")
    with open(path, "w") as f:
        f.write(f"VALUE = {i + 1}\\n")
    sc.addPyFile(path)
    out.append(run(name))
zpath = os.path.join(work, "shipped_pkg.zip")
with zipfile.ZipFile(zpath, "w") as z:
    z.writestr("shipped_pkg/__init__.py", "VALUE = 3\\n")
sc.addPyFile(zpath)
out.append(run("shipped_pkg"))
print("RESULT " + json.dumps(out))
spark.stop()
"""


def test_shipped_files_import_on_a_reused_worker(tmp_path):
    """Once the worker is warm, two ``.py`` files shipped one after the
    other into the same SparkFiles directory, then a ``.zip``, are each
    importable by the next task on the same (reused) worker."""
    script = tmp_path / "shipped.py"
    script.write_text(_SHIPPED_SCRIPT)
    work = tmp_path / "files"
    work.mkdir()
    env = {
        **os.environ,
        "PYTHONPATH": REPO,
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_PRETOUCH": "0",
    }
    proc = subprocess.run(
        [sys.executable, str(script), str(work)], cwd=str(tmp_path),
        capture_output=True, text=True, env=env, timeout=300,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    out = json.loads(lines[0][len("RESULT "):])
    assert len({pid for pid, _ in out}) == 1, out
    assert [value for _, value in out] == [0, 0, 1, 2, 3]
