"""docling_ibm_models_spark — a from-scratch PySpark-native extraction engine.

Re-creates the data-processing capabilities of DS4SD/docling-ibm-models
(studied read-only at /root/reference) as an idiomatic Spark pipeline:

* main-content extraction over Common-Crawl-style ``pages`` tables
  ``(url, warc_ts, html, text, lang)`` — HTML boilerplate strip + DOM
  heuristics, executed as Arrow-batched pandas UDFs (no per-row Python UDFs),
* layout / table-structure / reading-order operators re-expressed Spark-first
  (spatial theta-joins, band joins, grouped medians, window top-1,
  dense-rank compaction — see SURVEY.md §2),
* large-scale training-data ops: dedup (exact / MinHash-LSH / SimHash),
  similarity search, language-ID, quality scoring, token counting,
* per-partition lineage rows + exact resume from the last committed
  checkpoint.

Everything is built from public knowledge only (PySpark API, the reference
repo's observable behavior, published boilerplate-removal literature).
"""

import sys

__version__ = "0.1.0"


def _stat_gated_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size)`` changed since it was last read.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task; before Python 3.13 each zipimporter then re-parses its
    archive's whole central directory (``pyspark.zip`` and the spark-core
    jar: ~27k entries, 0.1-0.5 s per task). Archives read before this runs
    carry no stamp and are re-read once more. 3.13 made the re-read lazy."""
    import os
    import zipimport

    read, reread = zipimport._read_directory, zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int] | None] = {}

    def stamp(archive: str) -> tuple[int, int] | None:
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def read_directory(archive):
        before = stamp(archive)  # taken first: a concurrent rewrite reads as a change
        files = read(archive)
        stamps[archive] = before
        return files

    def invalidate_caches(self) -> None:
        cached = zipimport._zip_directory_cache.get(self.archive)
        now = stamp(self.archive)
        if cached is not None and now is not None and stamps.get(self.archive) == now:
            self._files = cached
        else:
            reread(self)

    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 13):
    _stat_gated_zip_invalidation()
