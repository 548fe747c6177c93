"""Golden-output tests for the three reference pipelines (SURVEY.md §5.2).

Fixtures are shaped like the real inputs per FIXTURES.md A1-A4: Excel
statement sheets (label / current / prior / english), the key-value
general-info sheet, and PDF page text with date lines, section markers,
statement lines, and a CALK outline region.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dwh_with_dask_spark.plans.calk import detail_notes
from dwh_with_dask_spark.plans.financial_etl import (
    pipeline_v2,
    pipeline_v3,
)
from dwh_with_dask_spark.sources.pdf import full_text, pages_from_rows


@pytest.fixture()
def statement_sheets(spark):
    """Three raw sheets as read with header=1 (FIXTURES.md A1)."""
    schema = "label_id string, current_value string, prior_value string, label_en string"
    laba = spark.createDataFrame(
        [
            ("Pendapatan bersih!", "1,000.50", "900.25", "Net revenue"),
            ("Beban pokok (penjualan)", "400", "350", "COGS"),
            ("Laba koto®", "600.50", "550.25", None),
        ],
        schema,
    )
    posisi = spark.createDataFrame(
        [
            ("Kas & setara kas", "123.45", "garbage", "Cash"),
            (None, "1", "2", "NullLabel"),
        ],
        schema,
    )
    arus = spark.createDataFrame(
        [("Arus kas operasi.", "", None, "Operating CF")],
        schema,
    )
    return {"Laba Rugi": laba, "Posisi Keuangan": posisi, "Arus Kas": arus}


def test_pipeline_v2_golden(spark, statement_sheets):
    out = pipeline_v2(statement_sheets, emitent="ACES")
    assert out.columns == [
        "ID",
        "emitent",
        "LaporanKeuangan",
        "LaporanDetail",
        "CurrentYearInstant",
        "PriorYearInstant",
    ]
    rows = out.orderBy("ID").collect()
    # Contiguous 1-based IDs in union order (sheet insertion order).
    assert [r["ID"] for r in rows] == [1, 2, 3, 4, 5, 6]
    assert all(r["emitent"] == "ACES" for r in rows)
    assert [r["LaporanKeuangan"] for r in rows] == (
        ["Laba Rugi"] * 3 + ["Posisi Keuangan"] * 2 + ["Arus Kas"]
    )
    # clean_text_v2: punctuation stripped.
    assert rows[0]["LaporanDetail"] == "Pendapatan bersih"
    assert rows[1]["LaporanDetail"] == "Beban pokok penjualan"
    # numeric coercion: thousands separators parsed, garbage/empty → 0.
    assert rows[0]["CurrentYearInstant"] == 1000.50
    assert rows[3]["PriorYearInstant"] == 0.0
    assert rows[5]["CurrentYearInstant"] == 0.0


PDF_PAGES = [
    (
        "doc1",
        1,
        "PT Contoh Tbk\n"
        "Pada Tanggal 31 Desember 2023 dan 2022\n"
        "Laporan laba rugi\n"
        "Pendapatan bersih 1,000.50 rupiah\n"
        "garbage line without numbers\n"
        "Beban pokok 400 cost",
    ),
    (
        "doc1",
        2,
        "Laporan arus kas\n"
        "Arus kas operasi 55.5 op\n"
        "Laporan neraca\n"
        "Kas 123.45 cash\n"
        "Catatan atas laporan selesai",
    ),
    (
        "doc1",
        3,
        "Catatan Atas Laporan Keuangan\n"
        "1. Umum\n"
        "Perusahaan didirikan tahun 1995.\n"
        "Berkedudukan di Jakarta.\n"
        "1.a. Anak perusahaan\n"
        "Memiliki 3 anak perusahaan.\n"
        "2. Kebijakan akuntansi\n"
        "Disusun berdasarkan SAK.",
    ),
]


def test_pipeline_v3_golden(spark, statement_sheets):
    pages = pages_from_rows(spark, PDF_PAGES)
    out = pipeline_v3(statement_sheets, "ACES", pdf_full_text=full_text(pages))
    rows = out.orderBy("ID").collect()
    assert out.columns == ["ID", "emitent", "grup_lk", "item", "value", "quarter"]
    # PDF rows come first (union order), quarter propagated everywhere.
    assert all(r["quarter"] == "Q4 2023" for r in rows)
    assert [r["ID"] for r in rows] == list(range(1, len(rows) + 1))
    pdf_rows = [r for r in rows if r["ID"] <= 4]
    assert {(r["grup_lk"], r["item"], r["value"]) for r in pdf_rows} == {
        ("Laba Rugi", "Pendapatan bersih", 1000.50),
        ("Laba Rugi", "Beban pokok", 400.0),
        ("Arus Kas", "Arus kas operasi", 55.5),
        ("Posisi Keuangan", "Kas", 123.45),
    }
    # Excel branch follows with the PDF-derived quarter (cross-source dep).
    assert rows[4]["grup_lk"] == "Laba Rugi"
    assert rows[4]["item"] == "Pendapatan bersih"


def test_pipeline_v3_no_pdf_quarter_unknown(spark, statement_sheets):
    out = pipeline_v3(statement_sheets, "ACES", pdf_full_text=None)
    assert out.select(F.collect_set("quarter")).first()[0] == ["Unknown"]


def test_detail_notes_golden(spark):
    pages = pages_from_rows(spark, PDF_PAGES)
    notes = detail_notes(pages).orderBy("id").collect()
    # 3 notes; lines before the CALK marker are ignored; trailing note flushed.
    assert [(n["Nomor"], n["calk"]) for n in notes] == [
        ("1.", "Umum"),
        ("1.a.", "Anak perusahaan"),
        ("2.", "Kebijakan akuntansi"),
    ]
    assert notes[0]["deskripsi"] == "Perusahaan didirikan tahun 1995. Berkedudukan di Jakarta."
    assert notes[1]["deskripsi"] == "Memiliki 3 anak perusahaan."
    assert notes[2]["deskripsi"] == "Disusun berdasarkan SAK."
    assert [n["id"] for n in notes] == [1, 2, 3]


def test_pipeline_v2_observed_metrics(spark, statement_sheets):
    """Observation metrics (the #29 stage-logging parity, zero extra
    jobs): per-sheet row counts and final-table stats arrive with the
    single action, matching the actual data."""
    from dwh_with_dask_spark.plans.financial_etl import pipeline_v2_observed

    df, obs = pipeline_v2_observed(statement_sheets, "ACES")
    out = df.collect()

    assert obs["Laba Rugi"].get["rows"] == 3
    assert obs["Posisi Keuangan"].get["rows"] == 2
    assert obs["Arus Kas"].get["rows"] == 1
    final = obs["final"].get
    assert final["rows"] == len(out) == 6
    assert (final["min_id"], final["max_id"]) == (1, 6)


def _mk_pdf(page_streams, flate=()):
    """Minimal PDF writer for tests: catalog/pages/page objects +
    per-page content streams (optionally /FlateDecode), Helvetica."""
    import zlib

    n_pages = len(page_streams)
    objs = []
    kids = " ".join(f"{3 + i} 0 R" for i in range(n_pages))
    font_num = 3 + 2 * n_pages
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    for i in range(n_pages):
        cnum = 3 + n_pages + i
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Contents {cnum} 0 R /Resources << /Font << /F1 "
                f"{font_num} 0 R >> >> >>"
            ).encode()
        )
    for i, cs in enumerate(page_streams):
        if i in flate:
            body = zlib.compress(cs)
            head = f"<< /Length {len(body)} /Filter /FlateDecode >>".encode()
        else:
            body = cs
            head = f"<< /Length {len(body)} >>".encode()
        objs.append(head + b"\nstream\n" + body + b"\nendstream")
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_pos}\n%%EOF\n"
    ).encode()
    return bytes(out)


def test_stdlib_pdf_extractor_real_pdf():
    from dwh_with_dask_spark.sources.pdf import _extract_pages

    p1 = (
        b"BT /F1 12 Tf 72 720 Td (Laporan Keuangan) Tj "
        b"0 -14 Td (Kas dan setara kas 1,234.56) Tj ET"
    )
    p2 = (
        b"BT /F1 12 Tf 72 720 Td [(Total) -250 (aset \\(bersih\\))] TJ "
        b"T* (CALK 1.a.) Tj T* <414243> Tj ET"
    )
    pdf = _mk_pdf([p1, p2], flate={1})  # page 2 stream is FlateDecode
    pages = _extract_pages(pdf)
    assert pages == [
        "Laporan Keuangan\nKas dan setara kas 1,234.56",
        "Total aset (bersih)\nCALK 1.a.\nABC",
    ]


def test_pdf_page_order_follows_kids_not_occurrence():
    # Incrementally-updated PDFs serialize page objects in arbitrary
    # byte order; page_no must follow the page tree's /Kids array, not
    # object occurrence. This file stores page TWO's object before page
    # ONE's while /Kids lists them in document order.
    from dwh_with_dask_spark.sources.pdf import _extract_pages

    c1 = b"BT 72 720 Td (first page) Tj ET"
    c2 = b"BT 72 720 Td (second page) Tj ET"
    objs = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [4 0 R 3 0 R] /Count 2 >>"),
        # object 3 = SECOND page in /Kids, serialized FIRST:
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>"),
        (4, b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>"),
        (5, f"<< /Length {len(c1)} >>".encode() + b"\nstream\n" + c1 + b"\nendstream"),
        (6, f"<< /Length {len(c2)} >>".encode() + b"\nstream\n" + c2 + b"\nendstream"),
    ]
    out = bytearray(b"%PDF-1.4\n")
    for num, body in objs:
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    out += b"trailer\n<< /Size 7 /Root 1 0 R >>\n%%EOF\n"

    assert _extract_pages(bytes(out)) == ["first page", "second page"]


def test_pdf_pages_source_end_to_end(spark, tmp_path):
    # REAL path: bytes on disk -> binaryFile scan -> executor-side
    # stdlib extraction -> (doc_id, page_no, text) rows -> full_text.
    from dwh_with_dask_spark.sources.pdf import full_text, pdf_pages

    p1 = b"BT 72 720 Td (halaman satu) Tj ET"
    p2 = b"BT 72 720 Td (halaman dua) Tj ET"
    (tmp_path / "doc.pdf").write_bytes(_mk_pdf([p1, p2], flate={0, 1}))

    pages = pdf_pages(spark, str(tmp_path)).orderBy("page_no").collect()
    assert [(r["page_no"], r["text"]) for r in pages] == [
        (1, "halaman satu"),
        (2, "halaman dua"),
    ]
    ft = full_text(pdf_pages(spark, str(tmp_path))).collect()[0]
    assert ft["text"] == "halaman satu\nhalaman dua"


def test_detail_notes_from_real_pdf_bytes(spark, tmp_path):
    # EP3 end-to-end from ACTUAL PDF bytes: binaryFile scan ->
    # executor-side stdlib extraction -> posexplode/sessionize ->
    # detail_notes golden rows. The reference ran this pipeline on a
    # driver-side pdfplumber loop (detail_notes.py:23-79).
    from dwh_with_dask_spark.sources.pdf import pdf_pages

    lines = [
        "PT Contoh Tbk",
        "Catatan Atas Laporan Keuangan",
        "1. Umum",
        "Perusahaan didirikan tahun 1995.",
        "Berkedudukan di Jakarta.",
        "1.a. Anak perusahaan",
        "Memiliki 3 anak perusahaan.",
        "2. Kebijakan akuntansi",
        "Disusun berdasarkan SAK.",
    ]
    shows = " T* ".join(f"({ln}) Tj" for ln in lines)
    stream = f"BT /F1 12 Tf 72 720 Td {shows} ET".encode()
    (tmp_path / "notes.pdf").write_bytes(_mk_pdf([stream], flate={0}))

    notes = (
        detail_notes(pdf_pages(spark, str(tmp_path))).orderBy("id").collect()
    )
    assert [(n["Nomor"], n["calk"], n["deskripsi"]) for n in notes] == [
        ("1.", "Umum", "Perusahaan didirikan tahun 1995. Berkedudukan di Jakarta."),
        ("1.a.", "Anak perusahaan", "Memiliki 3 anak perusahaan."),
        ("2.", "Kebijakan akuntansi", "Disusun berdasarkan SAK."),
    ]


def test_etl_driver_fixtures_regenerate_byte_identical(tmp_path):
    """The committed driver fixtures (fixtures/etl/) and a fresh
    regeneration from the constants in plans/etl_driver.py are
    byte-identical — the property that makes the committed binaries
    reviewable (regenerate and diff) and the VALUES-based oracles
    trustworthy (the SQL restates the same constants the binaries
    serialize)."""
    from dwh_with_dask_spark.plans import etl_driver as ED

    ED.ensure_fixtures()  # no-op when the committed files are present
    wb2 = str(tmp_path / "wb.xlsx")
    pdf2 = str(tmp_path / "notes.pdf")
    ED.write_fixture_workbook(wb2)
    ED.write_fixture_pdf(pdf2)
    with open(ED.WORKBOOK_PATH, "rb") as f1, open(wb2, "rb") as f2:
        assert f1.read() == f2.read()
    with open(ED.NOTES_PDF_PATH, "rb") as f1, open(pdf2, "rb") as f2:
        assert f1.read() == f2.read()


def test_read_excel_many_fixture_workbook(spark, tmp_path):
    """Distributed many-workbook ingest over two copies of the committed
    fixture workbook: binaryFile scan, executor-side stdlib OOXML parse,
    schema-driven coercion. Each statement sheet yields its data rows
    once per file, with values coerced from the SHEET_GRIDS strings
    (a thousands separator or garbage coerces to NULL)."""
    import shutil

    from dwh_with_dask_spark.plans import etl_driver as ED
    from dwh_with_dask_spark.sources.excel import read_excel_many

    for name in ("wb_a.xlsx", "wb_b.xlsx"):
        shutil.copyfile(ED.WORKBOOK_PATH, str(tmp_path / name))

    def num(v):
        try:
            return float(v)
        except (TypeError, ValueError):
            return None

    schema = (
        "label string, current double, prior double, label_en string, "
        "source_path string"
    )
    for label, sheet in ED.STATEMENT_SHEETS.items():
        rows = read_excel_many(
            spark, str(tmp_path), sheet_name=sheet, header=1, schema=schema
        ).collect()
        want = [
            (lab, num(cur), num(prior), en)
            for lab, cur, prior, en in ED.SHEET_GRIDS[label][2:]
        ]
        for name in ("wb_a.xlsx", "wb_b.xlsx"):
            got = [
                (r.label, r.current, r.prior, r.label_en)
                for r in rows
                if r.source_path.rsplit("/", 1)[-1] == name
            ]
            assert sorted(got, key=repr) == sorted(want, key=repr), (label, name)
        assert len(rows) == 2 * len(want)
