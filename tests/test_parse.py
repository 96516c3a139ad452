"""Unit tests for the table/header/idcard parsing layer (F10-F17, A5, W4/W5)."""

from __future__ import annotations

import pyspark.sql.functions as F

from engine import parse, tables

SERVICE_TABLE_8 = (
    "<table>"
    "<tr><th>الكود</th><th>الخدمة</th><th>التاريخ</th><th>السعر</th>"
    "<th>الكمية</th><th>الشركة</th><th>المريض</th><th>القيمة</th></tr>"
    "<tr><td>قسم المختبر</td><td></td><td></td><td></td><td></td><td></td><td></td><td></td></tr>"
    "<tr><td>BIO0001</td><td>تحليل دم</td><td>12.04.2025</td><td>125.500</td>"
    "<td>1</td><td>100.000</td><td>25.500</td><td>125.500</td></tr>"
    "<tr><td></td><td>ignored-empty-code</td><td></td><td></td><td></td><td></td><td></td><td>1.0</td></tr>"
    "<tr><td>SPE0002</td><td>فحص تخصصي</td><td>13.04.2025</td><td>85.000</td>"
    "<td>2</td><td>60.000</td><td>25.000</td><td>170.000</td></tr>"
    "<tr><td></td><td>الإجمالي</td><td></td><td></td><td></td><td></td><td></td><td>295.500</td></tr>"
    "</table>"
)

FOOTER_TABLE = (
    "<table>"
    "<tr><th>البيان</th><th>القيمة</th><th>المدفوع</th><th>المتبقي</th></tr>"
    "<tr><td>الصافي</td><td>295.500</td><td>200.000</td><td>95.500</td></tr>"
    "</table>"
)


def _df(spark, text):
    return spark.createDataFrame([("d1", text)], "doc_id: string, text: string")


def test_html_rows_and_flatten(spark):
    df = _df(spark, FOOTER_TABLE)
    rows = df.select(tables.html_rows(F.col("text")).alias("r")).collect()[0]["r"]
    assert rows[1] == ["الصافي", "295.500", "200.000", "95.500"]
    lines = df.select(tables.flatten_table_lines(F.col("text")).alias("l")).collect()[0]["l"]
    assert lines[1] == "الصافي 295.500 200.000 95.500"


def test_janzour_footer(spark):
    df = _df(spark, FOOTER_TABLE)
    got = df.select(tables.parse_janzour_footer(F.col("text")).alias("f")).collect()[0]["f"]
    assert (got["net_total_amount"], got["paid"], got["amount_due"]) == (
        "295.500",
        "200.000",
        "95.500",
    )


def test_service_rows_sections_and_items(spark):
    df = _df(spark, SERVICE_TABLE_8)
    rows = df.select(tables.parse_service_rows(F.col("text")).alias("r")).collect()[0]["r"]
    # section marker row, then two items (empty-code + subtotal rows dropped)
    assert rows[0]["section_marker"] == "قسم المختبر"
    items = [r["item"] for r in rows if r["item"] is not None]
    assert [i["code"] for i in items] == ["BIO0001", "SPE0002"]
    assert items[0]["service_description_ar"] == "تحليل دم"
    assert items[1]["quantity"] == "2"
    assert items[1]["amount"] == "170.000"


def test_section_subtotal(spark):
    df = _df(spark, SERVICE_TABLE_8)
    got = df.select(tables.parse_section_subtotal(F.col("text")).alias("s")).collect()[0]["s"]
    assert got == "295.500"


def test_extract_sections_assembles_doc(spark):
    text = "header line\n" + SERVICE_TABLE_8 + "\nmiddle\n" + FOOTER_TABLE
    out = parse.extract_sections(_df(spark, text)).collect()[0]
    assert out["footer"]["net_total_amount"] == "295.500"
    [section] = out["sections"]
    assert section["section_name"] == "قسم المختبر"
    assert section["section_subtotal"] == "295.500"
    assert len(section["items"]) == 2


def test_footer_fallback_sums_subtotals(spark):
    # no الصافي table → A5: net_total_amount = sum of section subtotals
    out = parse.extract_sections(_df(spark, SERVICE_TABLE_8)).collect()[0]
    assert float(out["footer"]["net_total_amount"]) == 295.5
    assert out["footer"]["paid"] is None


HEADER_JZ = """التاريخ: 12.04.2025
اسم المريض: **مريض تجريبي**
رقم الدخول: 554
الرقم الطبي: 9911
الجهة: شركة الضمان
الإقامة: من 24/04/2025 18:48 إلى 26/04/2025 12:32"""


def test_parse_header_janzour(spark):
    got = _df(spark, HEADER_JZ).select(
        parse.parse_header_janzour(F.col("text")).alias("h")
    ).collect()[0]["h"]
    assert got["report_date"] == "2025-04-12"
    assert got["patient_name"] == "مريض تجريبي"  # F1 clean_field strips ** runs
    assert got["admission_number"] == "554"
    assert got["admission_date"] == "24/04/2025"
    assert got["admission_time"] == "18:48"
    assert got["discharge_date"] == "26/04/2025"
    assert got["discharge_time"] == "12:32"


HEADER_MASSARA = """رقم الفاتورة: 7710
رقم الملف: F-220
اسم المريض: مريض مسرة
التاريخ: 05.01.2025
الجهة: الشركة الوطنية
الاجمالي: 25,985.000 دينار
المدفوع: 10,762.500
المتبقي: 15,222.500"""


def test_parse_header_massara(spark):
    got = _df(spark, HEADER_MASSARA).select(
        parse.parse_header_massara(F.col("text")).alias("h")
    ).collect()[0]["h"]
    assert got["invoice_number"] == "7710"
    assert got["file_number"] == "F-220"
    assert got["date"] == "2025-01-05"
    assert got["net_total_amount"] == "25,985.000"
    assert got["paid"] == "10,762.500"
    assert got["amount_due"] == "15,222.500"


IDCARD = """اسم المستفيد: مستفيد رقم 7
ACA-0000-00080-X1Z
الصلاحية: 16-02-2026 - 17-02-2025
الشركة: شركة الضمان"""


def test_parse_idcard_zeros_preserved(spark):
    got = _df(spark, IDCARD).select(parse.parse_idcard(F.col("text")).alias("h")).collect()[0][
        "h"
    ]
    assert got["national_id"] == "ACA-0000-00080-X1Z"
    assert got["beneficiary_name"] == "مستفيد رقم 7"
    assert got["validity"] == "16-02-2026 - 17-02-2025"


def test_extract_documents_end_to_end(spark):
    from engine.schema import SPAN_STRUCT
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("spans_out", ArrayType(SPAN_STRUCT), False),
        ]
    )
    spans_out = spark.createDataFrame(
        [
            {
                "doc_id": "d9",
                "spans_out": [
                    {"kind": "text", "text": HEADER_JZ, "media_ref": None, "offset": 0},
                    {"kind": "media", "text": SERVICE_TABLE_8, "media_ref": "m1", "offset": 1},
                    {"kind": "media", "text": FOOTER_TABLE, "media_ref": "m2", "offset": 2},
                ],
            }
        ],
        schema,
    )
    out = parse.extract_documents(spans_out).collect()[0]
    assert out["header_janzour"]["admission_number"] == "554"
    assert out["footer"]["net_total_amount"] == "295.500"
    assert out["sections"][0]["items"][0]["code"] == "BIO0001"


INVOICE_HEADER = """رقم الفاتورة
INV-2024-778
اسم المريض: مريض فاتورة
7755 رقم الملف
التاريخ: 03.02.2025
الجهة
غير معروف؟
شركة النور للتأمين
الطبيب: د. أحمد"""


def test_parse_header_invoice_adjacency(spark):
    # covers: bare-label + prev-line (invoice_number picks the NEXT line here
    # since prev is empty → lookahead), value-before-label (file_number),
    # value-after-label (patient_name, date, doctor), 3-line lookahead (company)
    df = _df(spark, INVOICE_HEADER)
    got = parse.parse_header_invoice(df).collect()[0]["header_invoice"]
    assert got["invoice_number"] == "INV-2024-778"
    assert got["file_number"] == "7755"
    assert got["patient_name"] == "مريض فاتورة"
    assert got["date"] == "2025-02-03"
    assert got["company"] == "غير معروف؟"
    assert got["doctor"] == "د. أحمد"
    assert got["policy_number"] is None


def test_parse_header_invoice_prev_line(spark):
    text = "A-9988\nرقم الفاتورة:\nsomething else entirely"
    got = parse.parse_header_invoice(_df(spark, text)).collect()[0]["header_invoice"]
    assert got["invoice_number"] == "A-9988"


INVOICE_TABLE = (
    "<table>"
    "<tr><th>الخدمة</th><th>الكود</th><th>القيمة</th><th>الكمية</th></tr>"
    "<tr><td>تحليل</td><td>LAB1</td><td>50.0</td><td>2</td></tr>"
    "<tr><td>قسم الأشعة</td><td></td><td></td><td></td></tr>"
    "<tr><td>أشعة</td><td>RAD2</td><td>75.0</td><td>1</td></tr>"
    "<tr><td colspan=3>الإجمالي</td><td>125.0</td></tr>"
    "</table>"
)


def test_parse_invoice_table_header_mapped(spark):
    # header order differs from the positional KEYS_N layouts — the header
    # NAME decides the field (F12 invoice mode, table_parser.py:103-110)
    got = _df(spark, INVOICE_TABLE).select(
        tables.parse_invoice_table(F.col("text")).alias("items")
    ).collect()[0]["items"]
    assert [(i["code"], i["service_description_ar"], i["amount"], i["quantity"]) for i in got] == [
        ("LAB1", "تحليل", "50.0", "2"),
        ("RAD2", "أشعة", "75.0", "1"),
    ]


# ---------------------------------------------------------------------------
# Malformed-table hardening (ANSI mode is ON in Spark 4.x): one bad table must
# yield nulls/drops — never abort the job (X3/J5 failure isolation).
# ---------------------------------------------------------------------------

MALFORMED_TABLES = {
    "footer_short_row": (
        # الصافي row with fewer than 4 cells
        "<table><tr><th>البيان</th></tr><tr><td>الصافي</td><td>10.0</td></tr></table>"
    ),
    "empty_tr": (
        "<table><tr><th>الكود</th><th>الخدمة</th><th>التاريخ</th><th>السعر</th>"
        "<th>الكمية</th><th>الشركة</th><th>المريض</th><th>القيمة</th></tr>"
        "<tr></tr>"
        "<tr><td>C1</td><td>x</td><td>d</td><td>1</td><td>1</td><td>1</td><td>1</td><td>9</td></tr>"
        "</table>"
    ),
    "no_code_header": (
        # invoice-mode header lacking the الكود column entirely
        "<table><tr><th>الخدمة</th><th>القيمة</th></tr>"
        "<tr><td>تحليل</td><td>50.0</td></tr></table>"
    ),
    "subtotal_label_only": (
        # الإجمالي row whose ONLY non-empty cell is the label itself
        "<table><tr><th>الكود</th><th>القيمة</th></tr>"
        "<tr><td></td><td>الإجمالي</td></tr></table>"
    ),
}


def test_malformed_footer_short_row_yields_nulls(spark):
    got = _df(spark, MALFORMED_TABLES["footer_short_row"]).select(
        tables.parse_janzour_footer(F.col("text")).alias("f")
    ).collect()[0]["f"]
    assert got["net_total_amount"] == "10.0"  # cell 2 exists
    assert got["paid"] is None and got["amount_due"] is None  # cells 3-4 don't


def test_malformed_empty_tr_is_dropped(spark):
    rows = _df(spark, MALFORMED_TABLES["empty_tr"]).select(
        tables.parse_service_rows(F.col("text")).alias("r")
    ).collect()[0]["r"]
    items = [r["item"] for r in rows if r["item"] is not None]
    assert [i["code"] for i in items] == ["C1"]


def test_malformed_invoice_header_without_code_column(spark):
    got = _df(spark, MALFORMED_TABLES["no_code_header"]).select(
        tables.parse_invoice_table(F.col("text")).alias("items")
    ).collect()[0]["items"]
    assert got == []  # no الكود column → keep nothing, don't crash


def test_malformed_subtotal_label_only_is_null(spark):
    got = _df(spark, MALFORMED_TABLES["subtotal_label_only"]).select(
        tables.parse_section_subtotal(F.col("text")).alias("s")
    ).collect()[0]["s"]
    assert got is None


def test_malformed_tables_survive_extract_sections(spark):
    # every malformed shape at once, inside the full section assembler
    text = "\n".join(MALFORMED_TABLES.values())
    out = parse.extract_sections(_df(spark, text)).collect()[0]
    assert out["footer"]["net_total_amount"] == "10.0"


def test_invoice_header_plan_is_single_pass(spark):
    """The candidate generator must stay one window + one candidate explode —
    not a per-(field,alias,priority) union re-deriving the window output."""
    df = _df(spark, INVOICE_HEADER)
    plan = parse.parse_header_invoice(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") <= 2  # one logical window (+ possible reuse line)
    assert "Union" not in plan


MEDICINE_HEADER = """رقم الفاتورة: 9921
رقم الملف: F-881
اسم المريض: مريض إيواء
التاريخ: 07.03.2025
الإقامة: من 24/04/2025 18:48 إلى 26/04/2025 12:32
الجهة: الشركة الوطنية
Dr. John Smith
الطبيب: د. أحمد الصادق
التخصص: باطنة
شركة التأمين: شركة الضمان
الجناح: الجناح الشرقي
نوع الغرفة: مفردة"""


def test_parse_header_medicine_third_variant(spark):
    # the inline-GPT template's extended header (pdf_processor.py:1395-1414)
    got = _df(spark, MEDICINE_HEADER).select(
        parse.parse_header_medicine(F.col("text")).alias("h")
    ).collect()[0]["h"]
    assert got["invoice_number"] == "9921"
    assert got["date"] == "2025-03-07"
    assert got["admission_date"] == "24/04/2025"
    assert got["discharge_date"] == "26/04/2025"
    assert got["doctor_name_en"] == "John Smith"
    assert got["doctor_name_ar"] == "د. أحمد الصادق"
    assert got["specialty"] == "باطنة"
    assert got["insurer_name"] == "شركة الضمان"
    assert got["ward"] == "الجناح الشرقي"
    assert got["room_type"] == "مفردة"


def test_extract_documents_same_rows_for_any_input_partitioning(
    spark, corpus_dfs, tmp_path
):
    """extract_documents spreads its (doc_id, text) projection by doc_id
    once: the rows do not depend on how spans_out arrives partitioned, and
    every per-doc window, groupBy and join reuses that spread — no
    ENSURE_REQUIREMENTS exchange is left when modes is None."""
    import json

    from engine.pipeline import run_extraction

    res = run_extraction(spark, *corpus_dfs, run_id="t-spread")
    res.spine.write.parquet(str(tmp_path / "spine"))
    res.spans_out.write.parquet(str(tmp_path / "spans_out"))
    spine = spark.read.parquet(str(tmp_path / "spine"))
    spans_out = spark.read.parquet(str(tmp_path / "spans_out"))
    modes = parse.doc_modes(spine)

    def rows(df):
        out = parse.extract_documents(df, modes).collect()
        return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True) for r in out)

    one, seven = rows(spans_out.coalesce(1)), rows(spans_out.repartition(7))
    assert one == seven
    multi_table = [r for r in one if len(json.loads(r)["sections"] or []) >= 2]
    assert multi_table, "fixture corpus lost its multi-table docs"

    plan = (
        parse.extract_documents(spans_out)._jdf.queryExecution().executedPlan().toString()
    )
    assert "ENSURE_REQUIREMENTS" not in plan, plan
