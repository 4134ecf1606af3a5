"""montecarlopagerank_spark — a PySpark-native link-graph analytics engine.

A from-scratch DataFrame-first re-expression of the capabilities of
sjcampbell/MonteCarloPageRank (reference: /root/reference, Scala, Spark 1.5
RDD API), extended per the north_rule with connected components, label
propagation, triangle counting, a transcript-derived edge table, CSR-blocked
adjacency with Arrow kernels, skew handling, and resumable checkpointing —
plus the training-data-pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing) a 100 TB corpus pipeline needs.

Design rules (see SURVEY.md):
  * DataFrame/SQL everywhere; the only Python execution is Arrow-batched
    (``applyInPandas`` / ``mapInPandas``) — never per-row Python.
  * Deterministic at any parallelism: RNG seeded by stable block id, vertex
    ids from a sorted dictionary — local[8] output == local[32] output.
  * Iterative algorithms checkpoint per superstep with a manifest and are
    resumable mid-iteration.
"""

__version__ = "0.1.0"


def _lazy_zip_invalidate() -> None:
    """Backport of Python 3.13's lazy ``zipimporter.invalidate_caches``:
    re-read a zip archive's directory only when the archive's (mtime,
    size, inode) changed since it was last read.

    PySpark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` on every task, and before 3.13 each
    cached zipimporter then re-reads its archive's whole central
    directory: about 16 reads of pyspark.zip's 1,328 entries, 0.19 s per
    task. Every engine UDF imports this package when it is unpickled, so
    the patch is live in each Python worker from its second task on: that
    task re-reads each archive once (an archive read before the patch has
    no signature), later tasks only stat it."""
    import os
    import sys
    import zipimport

    if sys.version_info >= (3, 13) or hasattr(zipimport, "_read_signatures"):
        return
    signatures: dict[str, tuple] = {}  # archive → (stat key, directory)
    zipimport._read_signatures = signatures
    read_directory = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches

    def stat_key(archive: str):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size, st.st_ino

    def _read_directory(archive):
        key = stat_key(archive)  # before the read: a later change re-reads
        files = read_directory(archive)
        signatures[archive] = (key, files)
        return files

    def invalidate_caches(self):
        key, files = signatures.get(self.archive, (None, None))
        if (key is not None and key == stat_key(self.archive)
                and zipimport._zip_directory_cache.get(self.archive) is files):
            self._files = files
            return
        reread(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_lazy_zip_invalidate()

from montecarlopagerank_spark.session import get_spark  # noqa: E402,F401
