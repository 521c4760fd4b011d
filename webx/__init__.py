"""webx — a PySpark-native main-content extraction engine for web pages.

Recasts the two-stage detect-then-recognize OCR design of the reference
(jianyunchao/mindocr; see /root/repo/SURVEY.md) as a two-stage webtext
extractor over Common-Crawl-style page tables:

* stage 1 (``webx.detect``) — block-level boilerplate classifier: an
  lxml-free byte-stream tokenizer (``webx.tokenize``) produces a block
  table per document; per-block text-density / link-density scores are
  thresholded and contiguous high-score runs merged into scored byte
  spans (the ``DBPostprocess`` analog,
  reference mindocr/postprocess/det_postprocess.py:13-145).
* stage 2 (``webx.recognize``) — span decoder: slice surviving byte
  spans, strip markup tokens, decode entities, collapse whitespace and
  join in document order (the ``RecCTCLabelDecode`` analog,
  reference mindocr/postprocess/rec_postprocess.py:75-142).

Everything is expressed in ``pyspark.sql`` DataFrames; per-document
work runs inside Arrow-batched ``mapInPandas`` (no row-at-a-time Spark
UDFs). See ``webx.pipeline`` for the end-to-end job and
``webx.lineage`` for partition-granular checkpoint/resume.
"""

import sys


def _share_zip_directories():
    """Make ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when the archive changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every Python task, and before 3.12 that re-parses the whole central
    directory of every zip importer on the path (``pyspark.zip``, the Spark
    jar, py4j, ``--py-files`` zips) once per importer: 0.2-0.4 s of CPU per
    task. With this installed, an importer whose archive still has the
    ``(st_mtime_ns, st_size)`` seen at its last read takes the shared cached
    directory, and a changed archive is read once for all its importers, as
    in 3.12 (gh-103200). A missing archive takes the stdlib path and clears
    the importer as before.
    """
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if reread.__module__ == __name__:
        return
    cache = zipimport._zip_directory_cache
    stamps = {}  # archive -> (st_mtime_ns, st_size) at its last read

    def stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def invalidate_caches(self):
        archive = self.archive
        now = stamp(archive)
        if now is not None and archive in cache and stamps.get(archive) == now:
            self._files = cache[archive]
            return
        reread(self)
        if now is not None and archive in cache:
            stamps[archive] = now
        else:
            stamps.pop(archive, None)

    # Directories cached before this import were read by this process (a
    # PySpark worker re-read them at the start of the current task), so
    # they are current as of now.
    for archive in list(cache):
        now = stamp(archive)
        if now is not None:
            stamps[archive] = now
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 12):
    _share_zip_directories()

from webx.config import ExtractConfig  # noqa: E402
from webx.pipeline import run_detect, run_extraction  # noqa: E402

__all__ = ["ExtractConfig", "run_detect", "run_extraction"]
__version__ = "0.3.0"
