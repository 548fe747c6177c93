"""End-to-end on the REAL reference workbook (not fixtures).

Ingests /root/reference/Data/FinancialStatement-2024-I-ACES.xlsx — the
exact file the reference reads at project-dask.py:15,23-25 — through
excel_to_parquet → pipeline_v2, and golden-asserts the
`laporan_keuangan` shape (financial_statement.sql:3-10) including ID
contiguity in concat order. Parses with the stdlib OOXML parser
(sources.xlsx_lite); skips only if the workbook itself is absent.
``tests/test_etl_golden.py`` runs the distributed reader over the committed
fixture workbook, which is always present.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dwh_with_dask_spark.plans.financial_etl import STATEMENT_LABELS, pipeline_v2
from dwh_with_dask_spark.sources.excel import excel_to_parquet, lookup_cell

WORKBOOK = "/root/reference/Data/FinancialStatement-2024-I-ACES.xlsx"
# Sheet ids and their statement labels, as wired in project-dask.py:23-25
# ('1311000' → Laba Rugi, '1510000' → Arus Kas, '1210000' → Posisi
# Keuangan) and the general-info sheet for the emitent lookup (:15-16).
SHEETS = {"Laba Rugi": "1311000", "Arus Kas": "1510000", "Posisi Keuangan": "1210000"}

pytestmark = pytest.mark.skipif(
    not os.path.exists(WORKBOOK), reason="reference workbook not present"
)


def test_emitent_cell_lookup(spark):
    """project-dask.py:15-16: df.loc[df[0]=='Kode entitas', 1] — the
    issuer ticker from the headerless general-info sheet."""
    assert lookup_cell(spark, WORKBOOK, "1000000", "Kode entitas") == "ACES"


def test_real_workbook_pipeline_v2_golden(spark, tmp_path):
    emitent = lookup_cell(spark, WORKBOOK, "1000000", "Kode entitas")

    parquet_dirs = excel_to_parquet(
        spark, WORKBOOK, str(tmp_path), list(SHEETS.values()), header=1
    )
    raw_sheets = {
        label: spark.read.parquet(parquet_dirs[sheet])
        for label, sheet in SHEETS.items()
    }
    out = pipeline_v2(raw_sheets, emitent).collect()

    # Golden schema + column order (financial_statement.sql:3-10).
    assert list(out[0].asDict()) == [
        "ID",
        "emitent",
        "LaporanKeuangan",
        "LaporanDetail",
        "CurrentYearInstant",
        "PriorYearInstant",
    ]
    # Sheet row counts are 64/179/272 incl. the header-offset rows; the
    # combined fact table is their data rows.
    n = len(out)
    assert 450 <= n <= 560, n
    # Gap-free contiguous IDs from 1 in concat order.
    assert [r["ID"] for r in out] == list(range(1, n + 1))
    assert all(r["emitent"] == "ACES" for r in out)
    # Concat order follows the statement-label order of the dict
    # (Laba Rugi block first — project-dask.py:79 concat order).
    labels_in_order = [r["LaporanKeuangan"] for r in out]
    first_of = {lab: labels_in_order.index(lab) for lab in set(labels_in_order)}
    assert sorted(first_of, key=first_of.get) == list(SHEETS)
    assert set(first_of) == set(STATEMENT_LABELS)
    # Numeric coercion contract: values are doubles, never null
    # (to_numeric_coerce fillna-0 — dask-with-dataframe.py:52-53).
    assert all(
        isinstance(r["CurrentYearInstant"], float)
        and isinstance(r["PriorYearInstant"], float)
        for r in out
    )
    # Spot-check a real P&L line exists with a nonzero current value.
    laba = [r for r in out if r["LaporanKeuangan"] == "Laba Rugi"]
    assert any(abs(r["CurrentYearInstant"]) > 0 for r in laba)


def test_read_excel_many_distributed(spark, tmp_path):
    """Distributed many-workbook ingest: binaryFile scan + executor-side
    OOXML parse. Two copies of the real workbook →
    per-file rows tagged with their source path."""
    import shutil

    from dwh_with_dask_spark.sources.excel import read_excel_many

    for name in ("wb_a.xlsx", "wb_b.xlsx"):
        shutil.copyfile(WORKBOOK, str(tmp_path / name))

    schema = (
        "LaporanDetail string, CurrentYearInstant double, "
        "PriorYearInstant double, label_en string, source_path string"
    )
    out = read_excel_many(
        spark, str(tmp_path), sheet_name="1311000", header=1, schema=schema
    )
    rows = out.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source_path"].rsplit("/", 1)[-1], 0)
        by_src[r["source_path"].rsplit("/", 1)[-1]] += 1
    assert set(by_src) == {"wb_a.xlsx", "wb_b.xlsx"}
    # 64 sheet rows - title - header = 62 data rows per copy.
    assert by_src["wb_a.xlsx"] == by_src["wb_b.xlsx"] == 62
    assert any(r["CurrentYearInstant"] is not None for r in rows)


def test_read_excel_many_sheet_narrower_than_schema(spark, tmp_path):
    """A worksheet with fewer columns than the supplied schema degrades
    to NULL-padded columns (per-file data quality issue), not an opaque
    Arrow conversion failure inside mapInPandas."""
    import shutil

    from dwh_with_dask_spark.sources.excel import read_excel_many

    shutil.copyfile(WORKBOOK, str(tmp_path / "short.xlsx"))
    schema = (
        "LaporanDetail string, CurrentYearInstant double, "
        "PriorYearInstant double, label_en string, "
        "extra_metric double, extra_note string, source_path string"
    )
    out = read_excel_many(
        spark, str(tmp_path), sheet_name="1311000", header=1, schema=schema
    )
    rows = out.collect()
    assert len(rows) == 62
    assert all(r["extra_metric"] is None and r["extra_note"] is None for r in rows)
    assert any(r["CurrentYearInstant"] is not None for r in rows)

