"""Excel source — the reference's primary input (SURVEY.md §2A #1-2).

Reference behavior re-expressed:
- sheet scan with a header offset (pd.read_excel(header=1),
  project-dask.py:23-25, dask-with-dataframe.py:35)
- headerless key/value sheet + scalar cell lookup ('Kode entitas' →
  ticker, project-dask.py:15-16)

Design for scale: a single .xlsx is inherently a driver-side object (zip
of XML, no splittable row groups), so the honest architecture is
**ingest-to-Parquet**: read the workbook once on the driver, write
Parquet, and let every downstream query run distributed.
``excel_to_parquet`` is that step; ``read_excel_sheet`` covers the
interactive path. For *many* workbooks, parallelize across
files: binaryFile scan + mapInPandas parsing per executor —
``read_excel_many``.

Engine: the stdlib OOXML parser only (sources.xlsx_lite — zipfile +
ElementTree over the public ECMA-376 format), on the driver and in the
executors alike. One parser means a sheet parses to the same values
and types on every host, whatever optional Excel libraries it has.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwh_with_dask_spark.sources import xlsx_lite


def _read_sheet_pdf(source, sheet_name: str | int, header: int | None):
    """One sheet → pandas DataFrame via the stdlib OOXML parser, with
    pandas-compatible header semantics (Unnamed: N for blank header
    cells, '.k' suffixes for duplicate names)."""
    grid = xlsx_lite.sheet_rows(source, sheet_name)
    if header is None:
        names = [f"_c{i}" for i in range(len(grid[0]) if grid else 0)]
        data = grid
    else:
        head, data = grid[header], grid[header + 1 :]
        names, seen = [], {}
        for i, cell in enumerate(head):
            name = f"Unnamed: {i}" if cell is None else str(cell)
            if name in seen:
                seen[name] += 1
                name = f"{name}.{seen[name]}"
            else:
                seen[name] = 0
            names.append(name)
    return pd.DataFrame(data, columns=names)


def read_excel_sheet(
    spark: SparkSession,
    path: str,
    sheet_name: str | int = 0,
    header: int | None = 1,
) -> DataFrame:
    """One sheet → DataFrame via the driver-side bridge (Arrow).

    ``header=1`` skips the title row like the reference; ``header=None``
    gives positional _c0.._cN columns (the key/value sheet case).
    """
    pdf = _read_sheet_pdf(path, sheet_name, header)
    return spark.createDataFrame(pdf.astype(object).where(pd.notna(pdf), None))


def lookup_cell(
    spark: SparkSession, path: str, sheet_name: str | int, key: str
) -> str | None:
    """Scalar cell lookup: value in column 1 where column 0 == key
    (reference: df.loc[df[0]=='Kode entitas', 1].values[0])."""
    df = read_excel_sheet(spark, path, sheet_name, header=None)
    row = df.filter(F.col("_c0") == key).select("_c1").first()
    return None if row is None else row[0]


def excel_to_parquet(
    spark: SparkSession,
    xlsx_path: str,
    out_dir: str,
    sheets: list[str | int],
    header: int | None = 1,
) -> dict[str, str]:
    """Ingest-to-Parquet normalization: each sheet → one Parquet dataset.

    This is the 100 TB story for semi-structured office inputs: pay the
    driver-side parse once at ingest, then all queries are columnar scans.
    """
    out = {}
    for sheet in sheets:
        df = read_excel_sheet(spark, xlsx_path, sheet, header)
        dest = f"{out_dir}/{sheet}"
        df.write.mode("overwrite").parquet(dest)
        out[str(sheet)] = dest
    return out


def read_excel_many(
    spark: SparkSession,
    path_glob: str,
    sheet_name: str | int = 0,
    header: int | None = 1,
    schema: str | None = None,
) -> DataFrame:
    """Distributed many-workbook reader: binaryFile scan + mapInPandas.

    Each executor parses its own workbooks (the stdlib OOXML parser over
    the binary content), so ingest scales with the number of files.
    ``schema`` must be supplied (arbitrary sheets can't be
    schema-inferred distributedly).
    """
    if schema is None:
        raise ValueError("schema is required for the distributed Excel reader")
    import io

    binaries = (
        spark.read.format("binaryFile").option("pathGlobFilter", "*.xlsx").load(path_glob)
    )

    from pyspark.sql.types import (
        DateType,
        NumericType,
        StringType,
        StructType,
        TimestampType,
    )

    fields = [f for f in StructType.fromDDL(schema).fields if f.name != "source_path"]

    def _coerce(col: pd.Series, dtype) -> pd.Series:
        # Schema-driven coercion, matching the engine's to_numeric_coerce
        # stance: spreadsheet cells are untyped, stray header/section rows
        # put strings into numeric columns — coerce, don't crash.
        if isinstance(dtype, NumericType):
            return pd.to_numeric(col, errors="coerce")
        if isinstance(dtype, (TimestampType, DateType)):
            return pd.to_datetime(col, errors="coerce")
        if isinstance(dtype, StringType):
            return col.map(lambda v: None if pd.isna(v) else str(v))
        return col

    def parse(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                sheet = _read_sheet_pdf(
                    io.BytesIO(row["content"]), sheet_name=sheet_name, header=header
                )
                # The caller's schema names the output positionally —
                # sheet headers vary per workbook and mapInPandas matches
                # columns by name. Sheets narrower than the schema are
                # padded with NULL columns (a ragged workbook degrades
                # to nulls instead of an opaque Arrow conversion error),
                # wider ones are truncated.
                sheet = sheet.iloc[:, : len(fields)]
                sheet.columns = [f.name for f in fields][: len(sheet.columns)]
                sheet = sheet.reindex(columns=[f.name for f in fields])
                for f in fields:
                    sheet[f.name] = _coerce(sheet[f.name], f.dataType)
                sheet["source_path"] = row["path"]
                yield sheet

    return binaries.select("path", "content").mapInPandas(parse, schema=schema)
