"""parquet_go_spark — a PySpark-native per-column lightweight-compression engine.

Capabilities of ``balamurugana/parquet-go`` (a Go Parquet codec library),
re-expressed Spark-first (SURVEY.md):

- numpy codec kernels (``kernels/``): PLAIN, RLE/bit-packed hybrid,
  dictionary, delta + frame-of-reference bit-packing (with a patched
  PFOR variant for outlier-heavy data), byte-stream-split, front-coded
  prefix strings, FSST — semantics per the Apache Parquet spec
  (parquet.thrift:566-631) plus the FSST/PFOR papers; all vectorized,
  no per-row Python.
- a per-column-chunk codec auto-selector (``plan.py``) mirroring
  parquet-go's PLAIN / RLE_DICTIONARY / DELTA encoding choices, with
  size-verified fallbacks.
- a Spark encode/decode path (``encode.py`` / ``decode.py``):
  hash+turn-block-salted (or value-range, or shuffle-free locality)
  chunking → ``sortWithinPartitions`` → ``mapInArrow`` vectorized
  kernels → encoded-chunk files + lineage manifests (``manifest.py``)
  with atomic snapshot commits, checkpoint resume, time travel,
  per-chunk bloom filters, and blob-level projection/filter pushdown.
- ``streaming.py`` (exactly-once micro-batch ingest, windowed
  aggregation, applyInPandasWithState sessionization), ``table.py``
  (write_table / write_table_direct / read_table / compact /
  delete_rows / upsert_table / count_rows), ``pipeline.py`` (dedup ×6
  incl. connected components, ANN ×3, sessionization, text analysis),
  ``multimodal.py`` (binary payloads), ``sources.py`` (JSON records),
  ``clustering.py`` (Z-order chunk clustering).
"""

import sys
import zipimport


def forget_zip_importers() -> None:
    """Drop every cached ``zipimporter`` from ``sys.path_importer_cache``.

    Every UDF the table engine hands to Spark calls this first."""
    # PySpark's worker calls importlib.invalidate_caches() at the start of
    # every task, and under Python 3.11 each cached zipimporter then
    # re-reads its whole archive directory: pyspark.zip, the py4j zip and
    # the Spark jar on sys.path cost ~200 ms of CPU per task. Forgotten
    # importers have nothing to re-read; PathFinder re-creates one on the
    # next lookup from zipimport's module-level directory cache.
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


from .table import (  # noqa: E402  (submodules import the helper above)
    compact,
    count_rows,
    delete_rows,
    read_table,
    upsert_table,
    verify_roundtrip,
    write_table,
    write_table_direct,
)

__all__ = ["write_table", "write_table_direct", "read_table", "compact",
           "delete_rows", "upsert_table", "count_rows",
           "verify_roundtrip"]

__version__ = "0.2.0"
