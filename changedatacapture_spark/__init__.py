"""changedatacapture_spark — a from-scratch, PySpark-native CDC / incremental
ingest engine with the capabilities of the reference repo
(Hoanha2101/ChangeDataCapture: MySQL→Debezium→Kafka→Pinecone sync service),
re-expressed Spark-first.

Architecture (see SURVEY.md for the full blueprint):

- ``schemas``    — page table / Debezium-shaped envelope / chunk StructTypes
- ``gen``        — deterministic binlog-segment generator (replaces
                   MySQL+Debezium+Kafka in the sandbox)
- ``oracle``     — single-node pure-Python oracle: verbatim ports of the
                   reference transform + the sequential event fold
- ``functions``  — vectorized pandas/Arrow UDFs (transform) and JVM-side
                   column expressions (text analysis, dedup, similarity)
- ``operators``  — envelope projection, LWW dedup windows, salted two-phase
                   LWW, batch fold, schema evolution, field diffs, as-of joins
- ``sinks``      — lake table with atomic snapshot commits, idempotent
                   epoch-keyed MERGE upserts, lineage
- ``streaming``  — Structured Streaming driver (readStream → foreachBatch),
                   checkpoint-resumable, exactly-once; feed-driven mirrors
                   (FeedMirror, VectorFeedMirror)

Importing the package inside a Python worker task (every engine UDF and
commit task does) trims that worker's import machinery once: PySpark calls
``importlib.invalidate_caches()`` before every task, which makes each cached
``zipimporter`` re-read its archive's whole directory. The trim drops
archives that hold no Python (the spark-core jar) from ``sys.path`` and
stops the importers of Spark's own install archives (``pyspark.zip``, the
py4j zip) from re-reading them. Archives shipped with ``--py-files`` /
``addPyFile`` keep stock behaviour. On the driver it does nothing.
"""

import os
import sys
import zipfile
import zipimport

__version__ = "0.1.0"


class _InstalledArchiveImporter(zipimport.zipimporter):
    """A zipimporter whose archive cannot change while the process lives."""

    def invalidate_caches(self):
        pass


def _trim_worker_imports():
    pyspark = sys.modules.get("pyspark")
    if pyspark is None or pyspark.TaskContext.get() is None:
        return
    cache = sys.path_importer_cache
    installed = {
        m.__loader__.archive
        for m in (pyspark, sys.modules.get("py4j"))
        if isinstance(getattr(m, "__loader__", None), zipimport.zipimporter)
    }

    def inside(path, archive):
        return path == archive or path.startswith(archive + os.sep)

    def holds_python(entry):
        try:
            with zipfile.ZipFile(entry) as z:
                return any(n.endswith((".py", ".pyc")) for n in z.namelist())
        except (OSError, zipfile.BadZipFile):  # a directory, or not an archive
            return True

    # 1. archives with no Python file only cost a directory read per task
    for entry in list(sys.path):
        if entry in installed or holds_python(entry):
            continue
        sys.path[:] = [p for p in sys.path if p != entry]
        for key in [k for k in cache if inside(k, entry)]:
            del cache[key]

    # 2. importers of the install archives, cached now or created later for
    # lazily imported subpackages, never re-read the directory
    def hook(path):
        if any(inside(path, a) for a in installed):
            return _InstalledArchiveImporter(path)
        raise ImportError("not a Spark install archive", path=path)

    for key, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive in installed:
            cache[key] = _InstalledArchiveImporter(key)
    sys.path_hooks.insert(0, hook)


_trim_worker_imports()
