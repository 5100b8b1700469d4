"""ankiocr_spark — a PySpark-native main-content extraction engine.

A from-scratch rebuild of the capabilities of cfculhane/AnkiOCR
(reference at /root/reference, v0.7.1) recast per BASELINE.json:
instead of batch-OCR over Anki note images, this engine performs
batch main-content extraction over Common-Crawl-style web-page tables
(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING).

Architecture (SURVEY.md §7): one pure-Python deterministic extraction
kernel (``kernel.py``) + thin declarative PySpark orchestration
(``job.py``). All per-document work is Arrow-batched via
``mapInPandas`` — no per-row Python UDFs anywhere in the hot path.
"""

__version__ = "0.1.0"

import sys as _sys
import zipimport as _zipimport

from .textclean import clean_text  # noqa: F401
from .kernel import extract_main_text, extract_spans, KERNEL_VERSION  # noqa: F401


def _keep_zip_directories() -> None:
    """In a Spark Python worker, make ``zipimporter.invalidate_caches`` a
    no-op for the rest of the worker's life.

    A reused worker starts each task with pyspark's ``setup_spark_files``,
    which calls ``importlib.invalidate_caches()``; on CPython 3.11 every
    cached ``zipimporter`` then re-reads its archive's whole directory. A
    warm worker holds ~16 of them (the spark-core jar with ~5.4k entries,
    ``pyspark.zip``, the py4j zip and their package sub-paths): 120-240
    ms per task (4-core VM). No archive on a worker's path changes while
    the worker runs: they are the Spark install's own, and Spark never
    ships a different file under a name it has shipped (the package zip
    of ``session.ensure_workers_can_import`` is named by content hash). A
    new archive path still gets a fresh importer that reads its directory.

    Installed when a worker first imports this package, which every stage
    function of the package does, so it covers every later task of that
    worker, whatever stage it runs. The driver is left alone: pyspark
    sets ``_is_running_on_worker`` only in a worker's task set-up."""
    files = _sys.modules.get("pyspark.core.files")
    if files is not None and files.SparkFiles._is_running_on_worker:
        _zipimport.zipimporter.invalidate_caches = lambda self: None


_keep_zip_directories()
