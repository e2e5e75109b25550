"""duckdb_raquet_spark — a from-scratch PySpark-native per-column
lightweight-compression engine for Common-Crawl-style webtext tables.

Semantics mirror the reference DuckDB extension (orennia/duckdb-raquet,
read-only at /root/reference): a Parquet/Iceberg table of *blocks*, each
block row carrying per-column encoded payloads plus per-block stats, a
QUADBIN-style 64-bit hierarchical block key (here keyed on
url-hash x timestamp-bucket instead of raster tiles), a JSON manifest
committed last (block=0 row), and a read path that decodes only the
blocks touched by pushed-down key predicates.

This is NOT a port: the reference is a single-process C++ vectorized
engine; this package expresses the same data model and query semantics
as idiomatic Spark DataFrame plans plus Arrow-vectorized pandas UDF
codec kernels (numpy/pyarrow inside, zero per-row Python).
"""

__version__ = "0.5.5"

# current manifest generation written by this engine; readers accept
# every generation in SUPPORTED_FORMAT_VERSIONS (multi-generation parse,
# mirroring /root/reference/src/include/raquet_metadata.hpp:1017-1072)
FORMAT_VERSION = "1.1"
SUPPORTED_FORMAT_VERSIONS = ("1.0", "1.1")
