"""Python-worker import trim (changedatacapture_spark/__init__.py).

PySpark calls ``importlib.invalidate_caches()`` before every task, which
makes each cached ``zipimporter`` re-read its archive's directory. Once a
task has imported the engine, only archives shipped under the SparkFiles
root (``--py-files`` / ``addPyFile``) may still be re-read, and no archive
without Python may stay on the worker's ``sys.path``. The second test pins
the ``--py-files`` deployment: the engine itself imported from such an
archive, with no repo checkout on the path.
"""

import os
import subprocess
import sys
import zipfile

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO_ROOT, "scripts"))

import package  # noqa: E402


def test_worker_task_rereads_only_shipped_archives(spark, tmp_path):
    shipped = tmp_path / "cdc_probe_shipped.zip"
    with zipfile.ZipFile(shipped, "w") as z:
        z.writestr("cdc_probe_shipped.py", "VALUE = 1\n")
    spark.sparkContext.addPyFile(str(shipped))

    # defined here so that cloudpickle ships it by value
    def _probe_task(_):
        import importlib
        import zipimport

        import changedatacapture_spark  # noqa: F401
        import cdc_probe_shipped  # noqa: F401  caches an importer for the shipped zip
        from pyspark import SparkFiles

        reads = []
        original = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return original(archive)

        # workers are reused across the session: always put the original back
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original

        python_free = []
        for entry in sys.path:
            if zipfile.is_zipfile(entry):
                with zipfile.ZipFile(entry) as z:
                    if not any(n.endswith((".py", ".pyc")) for n in z.namelist()):
                        python_free.append(entry)

        fresh = "pyspark.ml.linalg"
        was_imported = fresh in sys.modules
        importlib.import_module(fresh)
        yield {
            "root": SparkFiles.getRootDirectory(),
            "reads": reads,
            "python_free": python_free,
            "fresh_was_imported": was_imported,
        }

    (out,) = spark.sparkContext.parallelize([0], 1).mapPartitions(_probe_task).collect()
    root = out["root"].rstrip(os.sep) + os.sep
    outside = [a for a in out["reads"] if not a.startswith(root)]
    assert outside == [], f"{len(outside)} install-archive re-reads: {outside}"
    assert out["python_free"] == []
    assert not out["fresh_was_imported"]
    shipped_reads = [a for a in out["reads"] if os.path.basename(a) == shipped.name]
    assert shipped_reads, "the addPyFile archive must keep stock invalidation"


_PY_FILES_DRIVER = '''
import importlib.util
import sys

from pyspark.sql import SparkSession

zip_path, seg, lake, testdata = sys.argv[1:5]
assert importlib.util.find_spec("changedatacapture_spark") is None
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.addPyFile(zip_path)

from changedatacapture_spark import gen, oracle
from changedatacapture_spark.operators import envelope
from changedatacapture_spark.streaming.driver import CdcPipeline


def where(_):
    import changedatacapture_spark
    from pyspark import SparkFiles

    yield changedatacapture_spark.__file__, SparkFiles.getRootDirectory()


for path, root in spark.sparkContext.parallelize([0, 1], 2).mapPartitions(where).collect():
    assert path.startswith(root), (path, root)

events = gen.generate_small(seg, n_urls=20, n_events=150, seed=7, testdata_dir=testdata)
pipe = CdcPipeline(lake, n_buckets=4)
pipe.apply_batch(envelope.read_segments(spark, seg), epoch_id=0)

state = oracle.fold_events(events)
pages = {r["url"]: r["text"] for r in pipe.pages.read(spark).collect()}
assert pages == {u: p["text"] for u, p in state.items()}, "pages text differs"
exp = {
    (u, i, c["content"])
    for u, p in state.items()
    for i, c in enumerate(oracle.chunk_by_sections(p["text"]))
}
got = {
    (r["url"], r["chunk_index"], r["content"]) for r in pipe.chunks.read(spark).collect()
}
assert got == exp, "chunk sets differ"
spark.stop()
print("PY-FILES-OK", len(pages), len(got))
'''


def test_py_files_deployment_matches_oracle(tmp_path, testdata_dir):
    zip_path = package.build(str(tmp_path / "dist"))
    script = tmp_path / "driver.py"
    script.write_text(_PY_FILES_DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script), zip_path, str(tmp_path / "log"),
         str(tmp_path / "lake"), testdata_dir],
        cwd=tmp_path,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        timeout=600,
    )
    out = proc.stdout.decode()
    assert proc.returncode == 0, out[-4000:]
    assert "PY-FILES-OK" in out
