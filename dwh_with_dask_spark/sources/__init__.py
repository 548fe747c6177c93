"""Sources: scans for files, Excel workbooks, PDF/binary documents, JDBC.

The reference's source surface (SURVEY.md §2A #1-4) plus the general
capability surface (§2B scans). Driver-side parsers (Excel,
PDF) don't distribute — the scale-honest design is
ingest-to-Parquet: semi-structured inputs are normalized once into
columnar tables, and everything downstream is ordinary distributed scans.
"""

from dwh_with_dask_spark.sources.files import (
    read_csv,
    read_json,
    read_orc,
    read_parquet,
)

__all__ = ["read_csv", "read_json", "read_orc", "read_parquet"]
