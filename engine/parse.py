"""Header / idcard key-value parsers (F14-F17, F20) and the canonical
document builder (SURVEY.md §2.8, §2.5 A5, §2.6 W4/W5).

Pure Column expressions over a document's joined text.  Reference:
/root/reference/app/core/parsers/header_parser.py (massara mode :27-61,
invoice mode :63-175, janzour mode :177-214, idcard :219-245) and the
canonical JSON templates at pdf_processor.py:219-271 / :459-514.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from engine import tables, textops

_ML = "(?m)"  # multiline flag — labels sit at line starts


def _grab(text: Column, pattern: str, group: int = 1) -> Column:
    """First regex group; '' → null (the reference leaves absent fields null)."""
    got = F.regexp_extract(text, _ML + pattern, group)
    return F.when(got != "", textops.clean_field(got))


def _line_number_after(text: Column, label: str) -> Column:
    """Massara footer rule (header_parser.py:50-61): on the line containing
    the label, take the first number-looking token."""
    pat = rf"{label}[^\n]*?([\d][\d, .]*)"
    return _grab(text, pat)


# ---------------------------------------------------------------------------
# F14 — massara header (mode ""):  6 labeled fields + footer totals
# ---------------------------------------------------------------------------


def parse_header_massara(text: Column) -> Column:
    return F.struct(
        _grab(text, r"رقم الفاتورة\s*:?\s*\**([^\s:*][^\n*]*)").alias("invoice_number"),
        _grab(text, r"رقم الملف\s*:?\s*\**([^\s:*][^\n*]*)").alias("file_number"),
        _grab(text, r"اسم المريض\s*:?\s*\**([^\s:*][^\n*]*)").alias("patient_name"),
        textops.extract_date_default(
            F.coalesce(_grab(text, r"التاريخ\s*:?\s*\**([^\s:*][^\n*]*)"), F.lit(""))
        ).alias("date"),
        _grab(text, r"الجهة\s*:?\s*\**([^\s:*][^\n*]*)").alias("company"),
        _line_number_after(text, "الاجمالي").alias("net_total_amount"),
        _line_number_after(text, "المدفوع").alias("paid"),
        _line_number_after(text, "المتبقي").alias("amount_due"),
    )


# ---------------------------------------------------------------------------
# F16 — janzour header: report date + stay range + labeled fields
# ---------------------------------------------------------------------------

_STAY_RE = (
    r"الإقامة\s*:?\s*من\s+(\S+)\s+(\d{1,2}:\d{2})\s+إلى\s+(\S+)\s+(\d{1,2}:\d{2})"
)


def parse_header_janzour(text: Column) -> Column:
    jz = textops.normalize_jz_date
    return F.struct(
        textops.extract_date_default(
            F.coalesce(_grab(text, r"التاريخ\s*:?\s*\**([^\s:*][^\n*]*)"), F.lit(""))
        ).alias("report_date"),
        _grab(text, r"اسم المريض\s*:?\s*\**([^\s:*][^\n*]*)").alias("patient_name"),
        _grab(text, r"رقم الدخول\s*:?\s*\**([^\s:*][^\n*]*)").alias("admission_number"),
        _grab(text, r"الرقم الطبي\s*:?\s*\**([^\s:*][^\n*]*)").alias("medical_number"),
        _grab(text, r"الجهة\s*:?\s*\**([^\s:*][^\n*]*)").alias("company"),
        jz(F.coalesce(_grab(text, _STAY_RE, 1), F.lit(""))).alias("admission_date"),
        _grab(text, _STAY_RE, 2).alias("admission_time"),
        jz(F.coalesce(_grab(text, _STAY_RE, 3), F.lit(""))).alias("discharge_date"),
        _grab(text, _STAY_RE, 4).alias("discharge_time"),
    )


# ---------------------------------------------------------------------------
# F15 — invoice-mode header (header_parser.py:63-175): label-alias map with
# adjacency fallbacks.  Priorities per field, first-occurrence-wins (W4):
#   1. value after the label on the same line
#   2. value before the label on the same line
#   3. previous-line fallback (invoice_number only, header_parser.py:138-143)
#   4. up-to-3-line lookahead after a bare label line (header_parser.py:144-155)
# Relational build: explode lines → lead/lag adjacency columns → candidate
# rows (field, priority, pos, value) → min-by (priority, pos) per field.
# ---------------------------------------------------------------------------

INVOICE_FIELD_ALIASES: dict[str, list[str]] = {
    "invoice_number": ["رقم الفاتورة", "رقم الايصال"],
    "file_number": ["رقم الملف", "رقم ملف المريض"],
    "patient_name": ["اسم المريض", "المريض"],
    "date": ["التاريخ", "تاريخ الفاتورة"],
    "time": ["الوقت", "الساعة"],
    "company": ["الجهة", "الشركة", "جهة العلاج"],
    "policy_number": ["رقم البوليصة", "رقم العقد"],
    "doctor": ["الطبيب", "اسم الطبيب"],
    "department": ["القسم", "العيادة"],
}
_PREV_LINE_FIELDS = {"invoice_number"}
_LOOKAHEAD = 3


def _value_like(col: Column) -> Column:
    """A line usable as a standalone value: non-empty, not itself a label."""
    is_label = F.lit(False)
    for aliases in INVOICE_FIELD_ALIASES.values():
        for a in aliases:
            is_label = is_label | col.contains(a)
    return (col != "") & ~is_label


def parse_header_invoice(doc_text: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, text) → (doc_id, header_invoice struct) via exploded lines.

    Single-pass candidate generation: the window output is projected ONCE
    into an array of (field, prio, alias_idx, value) structs — all fields ×
    aliases × priorities in one select — then exploded once.  The previous
    shape (one select + union branch per combination, ~60 branches) re-derived
    the window projection per branch and bloated the plan ~60×; this is the
    same candidate set with one window + one explode.
    """
    lines = doc_text.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("line", F.trim(textops.normalize_bidi(F.col("line"))))
    w = Window.partitionBy("doc_id").orderBy("pos")
    lines = (
        lines.withColumn("prev", F.lag("line").over(w))
        .withColumn("next1", F.lead("line", 1).over(w))
        .withColumn("next2", F.lead("line", 2).over(w))
        .withColumn("next3", F.lead("line", 3).over(w))
    )

    cand_structs = []
    for field_name, aliases in INVOICE_FIELD_ALIASES.items():
        for alias_idx, alias in enumerate(aliases):
            after = _grab(F.col("line"), rf"{alias}\s*:?\s*\**([^\s:*].*)")
            before = _grab(F.col("line"), rf"^\s*\**([^:\n]+?)\s*\**\s*{alias}\s*:?\s*$")
            bare = F.col("line").rlike(rf"^\s*\**{alias}\s*:?\s*\**\s*$")
            lookahead = F.coalesce(
                *[
                    F.when(_value_like(F.col(c)), F.col(c))
                    for c in ("next1", "next2", "next3")[:_LOOKAHEAD]
                ]
            )
            sel = [
                (1, after),
                (2, before),
                (4, F.when(bare, lookahead)),
            ]
            if field_name in _PREV_LINE_FIELDS:
                sel.append((3, F.when(bare & _value_like(F.col("prev")), F.col("prev"))))
            for prio, val in sel:
                cand_structs.append(
                    F.struct(
                        F.lit(field_name).alias("field"),
                        F.lit(prio).alias("prio"),
                        F.lit(alias_idx).alias("alias_idx"),
                        val.alias("value"),
                    )
                )
    all_cands = lines.select(
        "doc_id",
        "pos",
        F.explode(
            F.filter(
                F.array(*cand_structs),
                lambda c: c["value"].isNotNull() & (F.trim(c["value"]) != ""),
            )
        ).alias("c"),
    ).select("doc_id", "pos", "c.field", "c.prio", "c.alias_idx", "c.value")

    # W4: first occurrence wins within the best priority; alias_idx breaks the
    # tie when overlapping aliases (e.g. المريض ⊂ اسم المريض) both match the
    # same line — the earlier-listed alias is authoritative, deterministically.
    best = all_cands.groupBy("doc_id", "field").agg(
        F.min_by(
            F.struct(F.col("value")),
            F.struct(F.col("prio"), F.col("pos"), F.col("alias_idx")),
        ).alias("picked")
    )
    pivoted = (
        best.groupBy("doc_id")
        .pivot("field", list(INVOICE_FIELD_ALIASES))
        .agg(F.first(F.col("picked.value")))
    )
    fixed = pivoted.select(
        "doc_id",
        F.struct(
            *[
                (
                    textops.extract_date_default(F.coalesce(F.col(f), F.lit(""))).alias(f)
                    if f == "date"
                    else textops.clean_field(F.coalesce(F.col(f), F.lit(""))).alias(f)
                )
                for f in INVOICE_FIELD_ALIASES
            ]
        ).alias("header_invoice"),
    )
    # '' back to null (clean_field of a missing value)
    return fixed.select(
        "doc_id",
        F.struct(
            *[
                F.when(F.col(f"header_invoice.{f}") != "", F.col(f"header_invoice.{f}")).alias(f)
                for f in INVOICE_FIELD_ALIASES
            ]
        ).alias("header_invoice"),
    )


# ---------------------------------------------------------------------------
# Third-variant header (the inline GPT template, pdf_processor.py:1395-1414):
# the massara core fields PLUS stay/clinical metadata — doctor (en/ar),
# specialty, insurer, ward, room type, admission/discharge dates.  Used for
# massara_medicine documents (the medicine/inpatient template).
# ---------------------------------------------------------------------------


def parse_header_medicine(text: Column) -> Column:
    return F.struct(
        _grab(text, r"رقم الفاتورة\s*:?\s*\**([^\s:*][^\n*]*)").alias("invoice_number"),
        _grab(text, r"رقم الملف\s*:?\s*\**([^\s:*][^\n*]*)").alias("file_number"),
        _grab(text, r"اسم المريض\s*:?\s*\**([^\s:*][^\n*]*)").alias("patient_name"),
        textops.extract_date_default(
            F.coalesce(_grab(text, r"التاريخ\s*:?\s*\**([^\s:*][^\n*]*)"), F.lit(""))
        ).alias("date"),
        textops.normalize_jz_date(
            F.coalesce(_grab(text, _STAY_RE, 1), F.lit(""))
        ).alias("admission_date"),
        textops.normalize_jz_date(
            F.coalesce(_grab(text, _STAY_RE, 3), F.lit(""))
        ).alias("discharge_date"),
        _grab(text, r"الجهة\s*:?\s*\**([^\s:*][^\n*]*)").alias("company_name"),
        _grab(text, r"(?:Dr|Doctor)\.?\s*:?\s*([A-Za-z][A-Za-z .\-]*)").alias(
            "doctor_name_en"
        ),
        _grab(text, r"الطبيب\s*:?\s*\**([^\s:*][^\n*]*)").alias("doctor_name_ar"),
        _grab(text, r"التخصص\s*:?\s*\**([^\s:*][^\n*]*)").alias("specialty"),
        _grab(text, r"شركة التأمين\s*:?\s*\**([^\s:*][^\n*]*)").alias("insurer_name"),
        _grab(text, r"الجناح\s*:?\s*\**([^\s:*][^\n*]*)").alias("ward"),
        _grab(text, r"نوع الغرفة\s*:?\s*\**([^\s:*][^\n*]*)").alias("room_type"),
    )


# ---------------------------------------------------------------------------
# F17 — idcard fields (header_parser.py:219-245) + F20 id format rule
# ---------------------------------------------------------------------------


def parse_idcard(text: Column) -> Column:
    id_num = F.regexp_extract(text, textops.ID_PATTERN, 0)
    return F.struct(
        _grab(text, r"اسم المستفيد\s*:?\s*\**([^\s:*][^\n*]*)").alias("beneficiary_name"),
        F.when(id_num != "", id_num).alias("national_id"),
        _grab(text, r"الصلاحية\s*:?\s*\**([^\s:*][^\n*]*)").alias("validity"),
        _grab(text, r"الشركة\s*:?\s*\**([^\s:*][^\n*]*)").alias("company"),
    )


# ---------------------------------------------------------------------------
# Canonical document: sections + footer from service tables (A5, W4, W5)
# ---------------------------------------------------------------------------


def extract_sections(doc_text: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, text-with-html-tables) → (doc_id, sections array, footer struct).

    Row-level relational build: explode table rows, tag each item with the
    nearest preceding section marker (F11's last-non-null window,
    table_parser.py:26-48), group back per (doc, section), then assemble.
    Footer: explicit الصافي row wins; else net_total_amount = SUM of section
    subtotals — 'the only allowed calculation' (A5, pdf_processor.py:165-179).
    """
    tbl = F.regexp_extract_all(F.col(text_col), F.lit(r"(?s)(<table>.*?</table>)"), 1)
    per_table = (
        doc_text.select("doc_id", F.posexplode(tbl).alias("tpos", "html"))
        .withColumn("rows", tables.parse_service_rows(F.col("html")))
        .withColumn("subtotal", tables.parse_section_subtotal(F.col("html")))
        .withColumn("footer_try", tables.parse_janzour_footer(F.col("html")))
    )
    rows = per_table.select(
        "doc_id",
        "tpos",
        "subtotal",
        "footer_try",
        F.posexplode_outer("rows").alias("rpos", "row"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("tpos", "rpos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rows = rows.withColumn(
        "section_name", F.last(F.col("row.section_marker"), ignorenulls=True).over(w)
    )
    items = rows.filter(F.col("row.item").isNotNull())
    sections = (
        items.groupBy("doc_id", "tpos", "subtotal", "section_name")
        .agg(F.array_sort(F.collect_list(F.struct("rpos", F.col("row.item").alias("it")))).alias("_o"))
        .select(
            "doc_id",
            "tpos",
            F.struct(
                F.col("section_name"),
                F.col("subtotal").alias("section_subtotal"),
                F.transform("_o", lambda s: s["it"]).alias("items"),
            ).alias("section"),
        )
    )
    per_doc_sections = sections.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("tpos", "section"))), lambda s: s["section"]
        ).alias("sections")
    )
    # footer: first table with an explicit الصافي row wins (W4 first-occurrence);
    # fall back to A5 sum of section subtotals.
    # ONE per-doc aggregation for both footer facts (r6): the split
    # footers/subtotal_sum form consumed per_table twice more — each with
    # its own groupBy exchange and doc-level join, and each re-running the
    # table tokenization (column pruning limits the re-run to the pruned
    # parse, but the explode+regex pass repeats).  min_by with a
    # WHEN-nulled ordering key reproduces the filtered min exactly (null
    # ordering keys are skipped; all-null → null, same as the old missing
    # row meeting a left join), and sum skips the null subtotals the old
    # filter removed.  Two exchanges + one join fewer; identical rows.
    footer_stats = per_table.groupBy("doc_id").agg(
        F.min_by(
            "footer_try",
            F.when(
                F.col("footer_try.net_total_amount").isNotNull(), F.col("tpos")
            ),
        ).alias("footer_explicit"),
        (F.sum(textops.coerce_price(F.col("subtotal"))).cast("double")).alias(
            "subtotal_sum"
        ),
    )
    out = (
        doc_text.select("doc_id")
        .join(per_doc_sections, "doc_id", "left")
        .join(footer_stats, "doc_id", "left")
        .select(
            "doc_id",
            "sections",
            F.when(F.col("footer_explicit").isNotNull(), F.col("footer_explicit"))
            .otherwise(
                F.struct(
                    F.when(
                        F.col("subtotal_sum").isNotNull(),
                        F.format_number(F.col("subtotal_sum"), 3),
                    ).alias("net_total_amount"),
                    F.lit(None).cast("string").alias("paid"),
                    F.lit(None).cast("string").alias("amount_due"),
                )
            )
            .alias("footer"),
        )
    )
    return out


def doc_modes(spine: DataFrame) -> DataFrame:
    """Per-document canonical mode: the most frequent processed (non-null)
    span mode, ties broken lexicographically — deterministic.  The reference
    picks the extraction template per document at the upload route
    (app/tasks.py:172-178: janzour/safwa → janzour prompt, massara/muasafat →
    massara prompt); here the routed span modes elect it."""
    counts = (
        spine.filter(F.col("mode").isNotNull())
        .groupBy("doc_id", "mode")
        .agg(F.count("*").alias("n"))
    )
    return counts.groupBy("doc_id").agg(
        F.max_by("mode", F.struct(F.col("n"), F.col("mode"))).alias("mode")
    )


# Template dispatch (tasks.py:172-178 + the third JSON variant at
# pdf_processor.py:1395-1444 which adds the patient_identity block):
_MODES_JANZOUR = ("janzour", "janzour_receipt", "default")
_MODES_MASSARA = ("massara", "massara_medicine")
_MODES_IDENTITY = ("idcard", "massara_medicine")
_MODES_MEDICINE = ("massara_medicine",)


def extract_documents(
    spans_out: DataFrame,
    modes: DataFrame | None = None,
    default_mode: str = "janzour",
) -> DataFrame:
    """spans_out → canonical extracted documents:
    (doc_id, mode, header_janzour, header_massara, patient_identity,
    sections, footer) — the Spark equivalent of the reference's
    GPT-extraction stage (E2) built from the native parsers.

    Per-mode dispatch: each header family is computed ONLY for documents
    whose elected mode selects it (F.when gates the parse per row — the
    regex work does not run for other documents), mirroring the reference's
    template→prompt selection instead of computing every variant:
      janzour/janzour_receipt/default → header_janzour (F16)
      massara/massara_medicine        → header_massara (F14)
      idcard/massara_medicine         → patient_identity (F17; third JSON
                                         variant pdf_processor.py:1409-1414)
    ``modes`` is (doc_id, mode) — typically doc_modes(result.spine); docs
    without a row (all-skipped or text-only) fall back to ``default_mode``
    (the reference's route-level template default).

    The projected (doc_id, text) frame is hash-partitioned on doc_id once,
    before any per-doc work: extract_sections' window, its groupBys and the
    doc_id joins then reuse that partitioning instead of each adding an
    exchange, and the table and header regex stages run on one task per
    partition rather than on however few splits spans_out was read in.  The
    width is the session's ``spark.sql.shuffle.partitions``, given
    explicitly: AQE coalesces a count-less repartition back toward one
    partition at receipts scale, and the modes side is shuffled at that
    width too, so the join needs no exchange on the text side.
    """
    width = int(spans_out.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    joined = spans_out.select(
        "doc_id",
        F.array_join(
            F.transform("spans_out", lambda s: F.coalesce(s["text"], F.lit(""))), "\n"
        ).alias("text"),
    ).repartition(width, "doc_id")
    if modes is not None:
        joined = joined.join(modes, "doc_id", "left")
    else:
        joined = joined.withColumn("mode", F.lit(None).cast("string"))
    mode = F.coalesce(F.col("mode"), F.lit(default_mode))
    secs = extract_sections(joined.select("doc_id", "text"))
    return (
        joined.join(secs, "doc_id", "left")
        .select(
            "doc_id",
            mode.alias("mode"),
            F.when(mode.isin(*_MODES_JANZOUR), parse_header_janzour(F.col("text"))).alias(
                "header_janzour"
            ),
            F.when(mode.isin(*_MODES_MASSARA), parse_header_massara(F.col("text"))).alias(
                "header_massara"
            ),
            F.when(mode.isin(*_MODES_IDENTITY), parse_idcard(F.col("text"))).alias(
                "patient_identity"
            ),
            F.when(
                mode.isin(*_MODES_MEDICINE), parse_header_medicine(F.col("text"))
            ).alias("header_medicine"),
            "sections",
            "footer",
        )
    )
