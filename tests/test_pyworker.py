"""The Python-worker zip refresh (pyworker.py): a reused worker re-reads
an archive's directory only when the archive changed, engine tasks
install the patch in every worker they run on, and the driver is never
patched."""

import json
import os
import subprocess
import sys
import zipimport

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from toy_vector_db_spark import pyworker
from toy_vector_db_spark.operators import hnsw

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# imports from a zip on sys.path, then counts this archive's directory
# reads over three refreshes: after install, again unchanged, and after
# the archive is rewritten with a second module
_REFRESH = r"""
import importlib, json, sys, zipfile, zipimport
from toy_vector_db_spark import pyworker

archive = sys.argv[1]

def write(mods):
    with zipfile.ZipFile(archive, "w") as z:
        for m in mods:
            z.writestr(f"{m}.py", f"NAME = {m!r}\n")

write(["zmod1"])
sys.path.insert(0, archive)
import zmod1
if not pyworker.install():
    sys.exit(3)
stock_read = zipimport._read_directory
reads = []

def counting_read(path):
    reads.append(path)
    return stock_read(path)

zipimport._read_directory = counting_read

def refresh():
    reads.clear()
    importlib.invalidate_caches()
    return reads.count(archive)

counts = [refresh(), refresh()]
write(["zmod1", "zmod2"])
counts.append(refresh())
import zmod2
print(json.dumps({"counts": counts, "new_module": zmod2.NAME}))
"""


def test_refresh_rereads_only_a_changed_archive(tmp_path):
    env = dict(os.environ, PYTHONPATH=ROOT)
    res = subprocess.run(
        [sys.executable, "-c", _REFRESH, str(tmp_path / "mods.zip")],
        capture_output=True, text=True, env=env, timeout=120,
    )
    if res.returncode == 3:
        pytest.skip("interpreter refreshes zip directories lazily")
    assert res.returncode == 0, res.stderr
    out = json.loads(res.stdout.strip().splitlines()[-1])
    # first refresh after install reads once, the unchanged archive is
    # then reused, and the rewritten one is read again
    assert out["counts"] == [1, 0, 1]
    assert out["new_module"] == "zmod2"


def test_engine_task_workers_skip_the_zip_reread(spark, embeddings):
    """After a knn_hnsw_deleted point, a task over an engine module runs
    on a patched worker, and a per-task refresh reads no archive."""
    base = embeddings.where(F.col("vec_id") < 200)
    parted, edges = hnsw.hnsw_index(base, 4)
    point = embeddings.where(F.col("vec_id") == 300).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    dead = base.select("vec_id").where(F.col("vec_id") % 17 == 0)
    assert hnsw.knn_hnsw_deleted(parted, edges, dead, point, 10).collect()

    def probe(batches):
        import importlib

        assert hnsw.hnsw_index  # unpickles the engine by reference
        stock_read = zipimport._read_directory
        reads = []

        def counting_read(path):
            reads.append(path)
            return stock_read(path)

        zipimport._read_directory = counting_read
        try:
            # the refresh setup_spark_files ran at task start, then one
            # more: a worker patched in an earlier task reads nothing in
            # either, one patched by this task reads each archive once
            importlib.invalidate_caches()
            first = len(reads)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        archives = {
            f.archive for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        }
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "patched": [
                zipimport.zipimporter.__dict__["invalidate_caches"].__module__
            ],
            "first": [first],
            "second": [len(reads) - first],
            "archives": [len(archives)],
        })

    rows = (
        spark.range(1).coalesce(1)
        .mapInArrow(probe, "patched string, first long, second long, archives long")
        .collect()
    )
    assert len(rows) == 1
    r = rows[0]
    assert r["patched"] == pyworker.__name__
    assert r["first"] <= r["archives"]
    assert r["second"] == 0


def test_install_never_runs_on_the_driver(spark):
    import toy_vector_db_spark.operators  # noqa: F401
    from toy_vector_db_spark import registry  # noqa: F401

    assert spark.range(3).count() == 3
    stock = zipimport.zipimporter.__dict__["invalidate_caches"]
    assert stock is not pyworker._invalidate_caches
    assert stock.__module__ == "zipimport"
