"""Deterministic synthetic corpus generator (FIXTURES.md §1-§3).

Everything is a pure function of ``(seed, doc_index)`` — the spans table and
the media_blobs table can be generated independently (even on different
machines / Spark tasks) and stay consistent, which is also how the test oracle
re-derives goldens without touching pipeline code.

Fixture-design requirements covered:
- offsets contiguous 0..n-1 but spans SHUFFLED inside the array (output order
  must come from ``offset``, not arrival — reference analogue: out-of-order OCR
  completions, /root/reference/app/core/document/pdf_processor.py:1208-1258);
- ~60/40 text/media mix, 5-40 spans/doc;
- a skewed tail: every ``skew_every``-th doc gets one oversized media payload
  (100-1000× median) to exercise payload-size skew at the blobs scan;
- a small rate of corrupt payloads (decode-error lineage path, X3);
- page kinds covering every router branch incl. all skip reasons (P3-P8);
- text spans mixing content, boilerplate, bidi noise, consecutive dup
  lines/words, dirty numbers (FIXTURES.md §3 table).
"""

from __future__ import annotations

import os
import random
from typing import Any, Iterator

from engine.codec import encode_page

# Bump when generated content changes — cache directories key on this so a
# stale bench corpus is never compared against goldens from newer rules.
FIXTURE_VERSION = 2
# The bitmap (SPB1) generator versions independently: changing raster specs
# (e.g. the round-2 noise speckle) must not invalidate SPG1 corpora.
BITMAP_FIXTURE_VERSION = 4

CONTENT_LINES = [
    "التاريخ: 12.04.2025",
    "اسم المريض: مريض تجريبي رقم {n}",
    "رقم الفاتورة: INV-{n:05d}",
    "رقم الملف: F-{n:04d}",
    "الجهة: شركة التأمين الوطنية",
    "الإقامة: من 24/04/2025 18:48 إلى 26/04/2025 12:32",
    "**الاجمالي:** 25,985.000 دينار",
    "المدفوع: 10,762.500",
    "قيمة التغطية: 1 234,5/",
    "Patient follow-up scheduled for next visit {n}.",
    "Laboratory results reviewed and filed under case {n}.",
    "Service code BIO{n:04d} billed at standard insurer rate.",
    "Service code SPE{n:04d} approved by the review board.",
    "The attending physician signed the summary report.",
    "أجريت الفحوصات المخبرية المطلوبة وتم تسجيل النتائج",
    "قسم الأشعة — فحص {n}",
]

DUP_WORD_LINES = [
    "net net total carried forward",
    "approved approved approved by committee",
    "الاجمالي الاجمالي للفقرة",
]

BIDI_LINES = [
    "‏رقم الفاتورة‎: 88{n:03d}",
    "‫الجهة‬: عيادة السلام",
]

DIRTY_NUMBER_LINES = [
    "unit_price: 10,762.500",
    "amount: 1 234,5/",
    "qty:  ",
    "net: 0.00",
]

BOILERPLATE_TEXT_SPANS = [
    "© 2025 Example Hospital. All rights reserved.",
    "Terms of Service | Privacy Policy",
    "Click here to view your results online",
    "Subscribe to our newsletter for updates",
    "Home | Services » Billing",
    "جميع الحقوق محفوظة لمستشفى المثال",
    "Advertisement",
    "Follow us on social media",
    "Unsubscribe from these notifications",
]

# Region-noise lines: appear in media body_text AND in the page's boilerplate
# list — the strip stage must remove them (barcode/header/footer zone analogue).
REGION_NOISE_LINES = [
    "[BARCODE *1029384756*]",
    "[QR-CODE REGION]",
    "PAGE FOOTER — printed by HIS v4.2",
    "HOSPITAL LETTERHEAD — DO NOT REMOVE",
    "[STAMP: PAID]",
]

IDCARD_LINES = [
    "اسم المستفيد: مستفيد رقم {n}",
    "ACA-{n1:04d}-{n2:05d}-X{n3:02d}",
    "الصلاحية: 16-02-2026 - 17-02-2025",
    "الشركة: شركة الضمان",
]

# 8-column service table matching engine.tables.KEYS_8
# (code, service_description_ar, date, unit_price, quantity, company_price,
#  patient_price, amount) + section row + الإجمالي subtotal row.
JANZOUR_TABLE_LINES = [
    "<table><tr><th>الكود</th><th>الخدمة</th><th>التاريخ</th><th>السعر</th>"
    "<th>الكمية</th><th>الشركة</th><th>المريض</th><th>القيمة</th></tr>",
    "<tr><td>قسم المختبر</td><td></td><td></td><td></td><td></td><td></td><td></td><td></td></tr>",
    "<tr><td>BIO{n:04d}</td><td>تحليل دم شامل</td><td>12.04.2025</td><td>125.500</td>"
    "<td>1</td><td>100.000</td><td>25.500</td><td>125.500</td></tr>",
    "<tr><td>SPE{n:04d}</td><td>فحص تخصصي</td><td>13.04.2025</td><td>85.000</td>"
    "<td>1</td><td>60.000</td><td>25.000</td><td>85.000</td></tr>",
    "<tr><td></td><td>الإجمالي</td><td></td><td></td><td></td><td></td><td></td><td>210.500</td></tr></table>",
]

# 4-column janzour footer table: the الصافي row → total/paid/amount_due.
JANZOUR_FOOTER_LINES = [
    "<table><tr><th>البيان</th><th>القيمة</th><th>المدفوع</th><th>المتبقي</th></tr>",
    "<tr><td>الصافي</td><td>210.500</td><td>150.000</td><td>60.500</td></tr></table>",
]

PAGE_KINDS_WEIGHTED = (
    ["janzour"] * 22
    + ["janzour_receipt"] * 8
    + ["massara"] * 22
    + ["massara_medicine"] * 10
    + ["idcard"] * 12
    + ["skip_medicine_title"] * 8
    + ["skip_discharge"] * 6
    + ["blank"] * 12
)

MEDICINE_TITLE = "أدوية ومستلزمات من الايواء"
DISCHARGE_TITLE = "ورقة خروج"
SERVICES_TITLE = "كشف تفاصيل الخدمات"


def doc_name(i: int) -> str:
    return f"doc-{i:06d}"


def media_ref(i: int, offset: int) -> str:
    return f"m-{i:06d}-{offset:04d}"


def _fmt(line: str, rng: random.Random) -> str:
    n = rng.randint(0, 9999)
    return line.format(n=n, n1=rng.randint(0, 9999), n2=rng.randint(0, 99999), n3=rng.randint(0, 99))


def _text_span_text(rng: random.Random) -> str:
    """Compose a text span: boilerplate (25%) or 1-4 content lines with
    injected noise (dup lines/words, bidi, dirty numbers, trailing ws)."""
    if rng.random() < 0.25:
        return rng.choice(BOILERPLATE_TEXT_SPANS)
    lines: list[str] = []
    for _ in range(rng.randint(1, 4)):
        pool = rng.choices(
            [CONTENT_LINES, DUP_WORD_LINES, BIDI_LINES, DIRTY_NUMBER_LINES],
            weights=[70, 10, 10, 10],
        )[0]
        line = _fmt(rng.choice(pool), rng)
        if rng.random() < 0.15:
            line = line + "   "  # trailing whitespace → rstrip coverage
        lines.append(line)
        if rng.random() < 0.15:
            lines.append(line)  # consecutive duplicate line → W1 coverage
    return "\n".join(lines)


def _media_page(rng: random.Random) -> dict[str, Any]:
    kind = rng.choice(PAGE_KINDS_WEIGHTED)
    noise = rng.sample(REGION_NOISE_LINES, k=rng.randint(1, 3))
    body: list[str] = []
    title = ""
    labels: list[str]
    has_qr = False
    qr_rotated = False

    if kind == "janzour":
        labels = ["doc_title", "header", "table"]
        title = SERVICES_TITLE
        body = [_fmt(l, rng) for l in rng.sample(CONTENT_LINES[:6], k=3)]
        body += [_fmt(l, rng) for l in JANZOUR_TABLE_LINES]
        if rng.random() < 0.5:
            body += list(JANZOUR_FOOTER_LINES)
    elif kind == "janzour_receipt":
        labels = ["doc_title", "table"]
        title = f"إيصال رقم {rng.randint(1000, 99999)}"
        body = [_fmt(l, rng) for l in rng.sample(CONTENT_LINES, k=4)]
    elif kind == "massara":
        labels = ["header", "table"]
        body = [_fmt(l, rng) for l in rng.sample(CONTENT_LINES, k=5)]
    elif kind == "massara_medicine":
        labels = ["header", "table", "paragraph_title"]
        body = [_fmt(l, rng) for l in rng.sample(CONTENT_LINES, k=4)]
    elif kind == "idcard":
        labels = rng.choice([["image"], ["header"], []])
        has_qr = True
        qr_rotated = rng.random() < 0.3
        body = [_fmt(l, rng) for l in IDCARD_LINES]
    elif kind == "skip_medicine_title":
        labels = ["doc_title", "table"]
        title = MEDICINE_TITLE
        body = [_fmt(l, rng) for l in rng.sample(CONTENT_LINES, k=2)]
    elif kind == "skip_discharge":
        labels = ["doc_title", "table"]
        title = rng.choice([DISCHARGE_TITLE, "Discharge Paper"])
        body = [_fmt(l, rng) for l in rng.sample(CONTENT_LINES, k=2)]
    else:  # blank
        labels = []
        body = []
        noise = []

    # interleave region-noise lines into the body at random positions
    for nl in noise:
        body.insert(rng.randint(0, len(body)), nl)

    return {
        "page_kind": kind,
        "regions": [
            {"label": lab, "bbox": [rng.randint(0, 50), i * 100, 900, i * 100 + 90]}
            for i, lab in enumerate(labels)
        ],
        "title_text": title,
        "body_text": "\n".join(body),
        "has_qr": has_qr,
        "qr_rotated": qr_rotated,
        "boilerplate": noise,
        "conf": round(rng.uniform(0.3, 1.0), 3),
    }


def gen_doc(
    seed: int,
    i: int,
    min_spans: int = 5,
    max_spans: int = 40,
    skew_every: int = 100,
    corrupt_rate: float = 0.01,
) -> tuple[dict[str, Any], list[dict[str, Any]]]:
    """→ (spans_row, blob_rows).  Pure function of (seed, i)."""
    rng = random.Random(f"{seed}:{i}")
    n = rng.randint(min_spans, max_spans)
    spans: list[dict[str, Any]] = []
    blobs: list[dict[str, Any]] = []
    for off in range(n):
        if rng.random() < 0.6:
            spans.append(
                {"kind": "text", "text": _text_span_text(rng), "media_ref": None, "offset": off}
            )
        else:
            ref = media_ref(i, off)
            spans.append({"kind": "media", "text": None, "media_ref": ref, "offset": off})
            if rng.random() < corrupt_rate:
                payload = b"JUNK" + bytes(rng.getrandbits(8) for _ in range(32))
            else:
                payload = encode_page(_media_page(rng))
            blobs.append({"media_ref": ref, "payload": payload})
    if skew_every and i % skew_every == 0:
        # oversized media span: payload padded 100-1000× the ~1 KiB median
        off = n
        ref = media_ref(i, off)
        spans.append({"kind": "media", "text": None, "media_ref": ref, "offset": off})
        pad = rng.randint(100_000, 1_000_000)
        blobs.append(
            {"media_ref": ref, "payload": encode_page(_media_page(rng), pad_to=pad)}
        )
    rng.shuffle(spans)  # arrival order ≠ offset order — A2 must restore it
    return {"doc_id": doc_name(i), "spans": spans}, blobs


def corpus_rows(
    n_docs: int, seed: int = 42, **kw: Any
) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    """Materialize a small corpus in memory (tests)."""
    all_spans, all_blobs = [], []
    for i in range(n_docs):
        s, b = gen_doc(seed, i, **kw)
        all_spans.append(s)
        all_blobs.extend(b)
    return all_spans, all_blobs


# ---------------------------------------------------------------------------
# Bitmap-mode corpus (SPB1): payloads are REAL rasters — labels / QR flags /
# boilerplate come from the P1 detector + M6-M10 operators at decode time,
# not from the payload.  The spec dict used to RENDER each page is returned
# alongside so the test oracle can predict expected output from intent
# without touching any detector code.
# ---------------------------------------------------------------------------

MASSARA_MEDICINE_PTITLE = "فقرة الخدمات العامة"  # must NOT contain skip literals


def _bitmap_spec(rng: random.Random) -> dict[str, Any]:
    from engine.bitmap import _KIND_BANDS  # kinds the renderer understands

    kind = rng.choice(PAGE_KINDS_WEIGHTED)
    assert kind in _KIND_BANDS
    spec: dict[str, Any] = {
        "page_kind": kind,
        "conf": round(rng.uniform(0.3, 1.0), 3),
        # scanner-speckle analogue: detectors must hold under noise
        "noise_px": rng.randint(0, 200),
        "noise_seed": rng.randint(0, 1 << 30),
    }
    if kind == "janzour":
        spec["title_text"] = SERVICES_TITLE
    elif kind == "janzour_receipt":
        spec["title_text"] = f"إيصال رقم {rng.randint(1000, 99999)}"
    elif kind == "massara_medicine":
        spec["title_text"] = MASSARA_MEDICINE_PTITLE
    elif kind == "skip_medicine_title":
        spec["title_text"] = MEDICINE_TITLE
    elif kind == "skip_discharge":
        spec["title_text"] = rng.choice([DISCHARGE_TITLE, "Discharge Paper"])

    if kind == "idcard":
        spec["body_lines"] = [_fmt(l, rng) for l in IDCARD_LINES]
        spec["rotation"] = rng.choice([0, 90, 180, 270])
        if rng.random() < 0.5:
            spec["noise_text"] = "PAGE FOOTER — printed by HIS v4.2"
    elif kind != "blank":
        body = [_fmt(l, rng) for l in rng.sample(CONTENT_LINES, k=rng.randint(2, 6))]
        if rng.random() < 0.2 and body:
            j = rng.randrange(len(body))
            body.insert(j, body[j])  # consecutive duplicate line → W1 coverage
        spec["body_lines"] = body[:8]  # ≤ 8: one text per renderer slot
        if rng.random() < 0.5:
            spec["barcode"] = True
            spec["boiler_lines"] = [rng.choice(REGION_NOISE_LINES)]
    return spec


def gen_bitmap_doc(
    seed: int,
    i: int,
    min_spans: int = 4,
    max_spans: int = 16,
    corrupt_rate: float = 0.02,
) -> tuple[dict[str, Any], list[dict[str, Any]], dict[str, dict[str, Any] | None]]:
    """→ (spans_row, blob_rows, {media_ref: spec-or-None-if-corrupt})."""
    from engine.bitmap import encode_bitmap_page

    rng = random.Random(f"bmp:{seed}:{i}")
    n = rng.randint(min_spans, max_spans)
    spans: list[dict[str, Any]] = []
    blobs: list[dict[str, Any]] = []
    specs: dict[str, dict[str, Any] | None] = {}
    for off in range(n):
        if rng.random() < 0.6:
            spans.append(
                {"kind": "text", "text": _text_span_text(rng), "media_ref": None, "offset": off}
            )
        else:
            ref = media_ref(i, off)
            spans.append({"kind": "media", "text": None, "media_ref": ref, "offset": off})
            if rng.random() < corrupt_rate:
                blobs.append(
                    {"media_ref": ref, "payload": b"SPB1" + bytes(rng.getrandbits(8) for _ in range(16))}
                )
                specs[ref] = None
            else:
                spec = _bitmap_spec(rng)
                blobs.append({"media_ref": ref, "payload": encode_bitmap_page(spec)})
                specs[ref] = spec
    rng.shuffle(spans)
    return {"doc_id": doc_name(i), "spans": spans}, blobs, specs


def bitmap_corpus_rows(
    n_docs: int, seed: int = 42, **kw: Any
) -> tuple[list[dict[str, Any]], list[dict[str, Any]], dict[str, dict[str, Any] | None]]:
    all_spans, all_blobs, all_specs = [], [], {}
    for i in range(n_docs):
        s, b, sp = gen_bitmap_doc(seed, i, **kw)
        all_spans.append(s)
        all_blobs.extend(b)
        all_specs.update(sp)
    return all_spans, all_blobs, all_specs


def spark_bitmap_corpus(spark, n_docs: int, seed: int = 42, partitions: int = 32, **kw: Any):
    """Distributed bitmap-corpus generation (twin of spark_corpus): pure
    function of (seed, i) per doc, so any executor can render any doc —
    the property that lets a web-scale raster corpus be generated in place.
    Returns (spans_df, blobs_df)."""
    import pandas as pd

    from engine.schema import MEDIA_BLOBS_SCHEMA, SPANS_SCHEMA

    base = spark.range(0, n_docs, 1, partitions)

    def gen_spans(batches):
        for pdf in batches:
            rows = [gen_bitmap_doc(seed, int(i), **kw)[0] for i in pdf["id"]]
            yield pd.DataFrame(
                {"doc_id": [r["doc_id"] for r in rows], "spans": [r["spans"] for r in rows]}
            )

    def gen_blobs(batches):
        for pdf in batches:
            out = {"media_ref": [], "payload": []}
            for i in pdf["id"]:
                for b in gen_bitmap_doc(seed, int(i), **kw)[1]:
                    out["media_ref"].append(b["media_ref"])
                    out["payload"].append(b["payload"])
            yield pd.DataFrame(out)

    return (
        base.mapInPandas(gen_spans, SPANS_SCHEMA),
        base.mapInPandas(gen_blobs, MEDIA_BLOBS_SCHEMA),
    )


def write_bitmap_corpus(
    out_dir: str,
    n_docs: int,
    seed: int = 42,
    docs_per_file: int = 100,
    row_group_rows: int = 64,
    **kw: Any,
) -> tuple[str, str]:
    """Bitmap-corpus twin of write_corpus (rasters compress well in parquet —
    the spec dicts are NOT persisted; bench spot-checks regenerate them from
    (seed, i), the same pure-function property as the SPG1 corpus).

    Small files + small row groups on the BLOBS side: rasters compress ~15×,
    so a 500-doc single-row-group file is one ~small split → the decode stage
    (the expensive one here) would run near-serial.  Input-split granularity
    IS the media-branch parallelism knob (decode sits on the scan), exactly
    the property PLANS.md §1 documents."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spans_schema, blobs_schema = _pa_schemas()
    spans_dir = os.path.join(out_dir, "spans")
    blobs_dir = os.path.join(out_dir, "media_blobs")
    os.makedirs(spans_dir, exist_ok=True)
    os.makedirs(blobs_dir, exist_ok=True)
    for start in range(0, n_docs, docs_per_file):
        k = start // docs_per_file
        cs, cb = [], []
        for i in range(start, min(start + docs_per_file, n_docs)):
            s, b, _ = gen_bitmap_doc(seed, i, **kw)
            cs.append(s)
            cb.extend(b)
        pq.write_table(
            pa.Table.from_pylist(cs, schema=spans_schema),
            os.path.join(spans_dir, f"part-{k:05d}.parquet"),
        )
        pq.write_table(
            pa.Table.from_pylist(cb, schema=blobs_schema),
            os.path.join(blobs_dir, f"part-{k:05d}.parquet"),
            row_group_size=row_group_rows,
        )
    return spans_dir, blobs_dir


def _pa_schemas():
    import pyarrow as pa

    span = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
    spans_schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
    blobs_schema = pa.schema([("media_ref", pa.string()), ("payload", pa.binary())])
    return spans_schema, blobs_schema


def spark_corpus(spark, n_docs: int, seed: int = 42, partitions: int = 32, **kw: Any):
    """Distributed generation: spark.range → mapInPandas, same pure function
    of (seed, i) as the local path, so content is identical regardless of
    which executor generates which doc — the property that lets a 10^12-doc
    corpus be generated in place without coordination.

    Returns (spans_df, blobs_df).
    """
    import pandas as pd

    from engine.schema import MEDIA_BLOBS_SCHEMA, SPANS_SCHEMA

    base = spark.range(0, n_docs, 1, partitions)

    def gen_spans(batches):
        for pdf in batches:
            rows = [gen_doc(seed, int(i), **kw)[0] for i in pdf["id"]]
            yield pd.DataFrame(
                {"doc_id": [r["doc_id"] for r in rows], "spans": [r["spans"] for r in rows]}
            )

    def gen_blobs(batches):
        for pdf in batches:
            out = {"media_ref": [], "payload": []}
            for i in pdf["id"]:
                for b in gen_doc(seed, int(i), **kw)[1]:
                    out["media_ref"].append(b["media_ref"])
                    out["payload"].append(b["payload"])
            yield pd.DataFrame(out)

    return (
        base.mapInPandas(gen_spans, SPANS_SCHEMA),
        base.mapInPandas(gen_blobs, MEDIA_BLOBS_SCHEMA),
    )


def write_corpus(
    out_dir: str,
    n_docs: int,
    seed: int = 42,
    docs_per_file: int = 2000,
    **kw: Any,
) -> tuple[str, str]:
    """Write spans/ + media_blobs/ parquet datasets (multiple part files so
    a local[32] scan has enough input splits).  Deterministic; idempotent."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spans_schema, blobs_schema = _pa_schemas()
    spans_dir = os.path.join(out_dir, "spans")
    blobs_dir = os.path.join(out_dir, "media_blobs")
    os.makedirs(spans_dir, exist_ok=True)
    os.makedirs(blobs_dir, exist_ok=True)

    def chunks() -> Iterator[tuple[int, list, list]]:
        for start in range(0, n_docs, docs_per_file):
            cs, cb = [], []
            for i in range(start, min(start + docs_per_file, n_docs)):
                s, b = gen_doc(seed, i, **kw)
                cs.append(s)
                cb.extend(b)
            yield start // docs_per_file, cs, cb

    for k, cs, cb in chunks():
        pq.write_table(
            pa.Table.from_pylist(cs, schema=spans_schema),
            os.path.join(spans_dir, f"part-{k:05d}.parquet"),
        )
        pq.write_table(
            pa.Table.from_pylist(cb, schema=blobs_schema),
            os.path.join(blobs_dir, f"part-{k:05d}.parquet"),
        )
    return spans_dir, blobs_dir
