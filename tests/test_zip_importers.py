"""The engine's Spark UDFs forget cached zip importers.

PySpark's worker invalidates the import caches at the start of every
task, which under Python 3.11 makes each cached ``zipimporter`` re-read
its whole archive directory (pyspark.zip, py4j, the Spark jar). Each
UDF drops those importers first, so the next task has nothing to
re-read.
"""

import sys
import zipfile
import zipimport

import pytest

from parquet_go_spark.decode import make_decode_fn
from parquet_go_spark.encode import make_direct_encode_fn, make_encode_fn

UDFS = {
    "encode": lambda d: make_encode_fn(d, ("k",)),
    "direct_encode": lambda d: make_direct_encode_fn(d, ("k",)),
    "decode": lambda d: make_decode_fn(["k"]),
}


@pytest.mark.parametrize("udf", list(UDFS))
def test_udf_forgets_zip_importers(tmp_path, udf):
    zpath = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("pgs_probe_mod.py", "X = 1\n")
    saved = dict(sys.path_importer_cache)
    try:
        sys.path_importer_cache[zpath] = zipimport.zipimporter(zpath)
        fn = UDFS[udf](str(tmp_path))
        assert list(fn(iter([]))) == []
        assert zpath not in sys.path_importer_cache
    finally:
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved)
