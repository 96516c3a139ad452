"""Deterministic validation audit (E3 analogue — SURVEY.md §2.10).

The reference validates extractions with a GPT judge returning a ``mistakes``
list and a 0-100 ``score`` (/root/reference/app/core/document/validator.py:
24-108) — and then bypasses it for all known templates (app/tasks.py:250-257).
Here validation is recompute-and-compare: invariants the extraction must
satisfy are rechecked from the extracted struct itself, producing the same
(mistakes, score) contract without a model.

Checks (each failed check appends a mistake string):
  V1  footer.net_total_amount equals the sum of section subtotals (A5 rule)
  V2  every item's code is non-empty (table_parser.py:247 drop rule held)
  V3  every section with items has a section_name
  V4  item amount ≈ unit_price × quantity where all three parse (soft check)
Score = 100 × (passed checks / applicable checks); docs with nothing to
check score 100 (vacuous pass, like the reference's bypass).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from engine.textops import coerce_price, coerce_qty


def _check(name: str, applicable: Column, ok: Column) -> Column:
    """→ struct(applicable int, passed int, mistake string|null)."""
    return F.struct(
        F.when(applicable, 1).otherwise(0).alias("applicable"),
        F.when(applicable & ok, 1).otherwise(0).alias("passed"),
        F.when(applicable & ~ok, F.lit(name)).alias("mistake"),
    )


def audit_documents(docs: DataFrame) -> DataFrame:
    """(doc_id, sections, footer, …) → (doc_id, mistakes array<string>, score)."""
    items = F.flatten(
        F.transform(F.coalesce(F.col("sections"), F.array()), lambda s: s["items"])
    )
    subtotal_sum = F.aggregate(
        F.coalesce(F.col("sections"), F.array()),
        F.lit(0.0),
        lambda acc, s: acc + F.coalesce(coerce_price(s["section_subtotal"]), F.lit(0.0)),
    )
    footer_total = coerce_price(F.col("footer.net_total_amount"))

    v1 = _check(
        "footer_total_mismatch",
        footer_total.isNotNull() & (subtotal_sum > 0),
        F.abs(footer_total - subtotal_sum) < 0.005,
    )
    v2 = _check(
        "empty_item_code",
        F.size(items) > 0,
        ~F.exists(items, lambda i: F.coalesce(i["code"], F.lit("")) == ""),
    )
    v3 = _check(
        "unnamed_section",
        F.size(F.coalesce(F.col("sections"), F.array())) > 0,
        ~F.exists(
            F.coalesce(F.col("sections"), F.array()),
            lambda s: s["section_name"].isNull() & (F.size(s["items"]) > 0),
        ),
    )
    amount_bad = F.exists(
        items,
        lambda i: coerce_price(i["amount"]).isNotNull()
        & coerce_price(i["unit_price"]).isNotNull()
        & (coerce_qty(i["quantity"]) > 0)
        & (
            F.abs(
                coerce_price(i["amount"])
                - coerce_price(i["unit_price"]) * coerce_qty(i["quantity"])
            )
            >= 0.005
        ),
    )
    v4 = _check("amount_neq_price_times_qty", F.size(items) > 0, ~amount_bad)

    checks = F.array(v1, v2, v3, v4)
    applicable = F.aggregate(checks, F.lit(0), lambda a, c: a + c["applicable"])
    passed = F.aggregate(checks, F.lit(0), lambda a, c: a + c["passed"])
    mistakes = F.filter(
        F.transform(checks, lambda c: c["mistake"]), lambda m: m.isNotNull()
    )
    score = F.when(applicable == 0, F.lit(100.0)).otherwise(
        F.round(passed * 100.0 / applicable, 1)
    )
    return docs.select(
        "doc_id", mistakes.alias("mistakes"), score.alias("score")
    )


def audit_media_vs_pixels(spine: DataFrame, blobs: DataFrame) -> DataFrame:
    """Image-grounded audit (the deterministic analogue of the reference's
    look-at-the-page-image judge, validator.py:24-108): re-decode every blob
    FROM PIXELS, re-run the routing predicates on the re-detected title/
    layout, and diff against what the spine claims for that media span.

    Catches anything that corrupted the claimed extraction after (or
    despite) decode: a bad resume mixing spine versions, a re-nest
    dropping rows, sink corruption, or a routing regression — because the
    verdict is derived from the source raster again, not trusted from the
    struct under audit.

    Checks per media span:
      V5 mode_mismatch    claimed mode != mode re-elected from pixels
      V6 kept_but_skippable  span kept although pixel routing says skip/error
      V7 skipped_but_processable  span skipped/errored although pixel routing
                          found a processable page (empty-text skips exempt)
    Returns the audit contract: (doc_id, mistakes array<string>, score).
    """
    from engine.layout import decode_blobs
    from engine.routing import route

    fresh = decode_blobs(blobs)
    mode2, skip2 = route(F.col("feats"))
    fresh = fresh.select(
        "media_ref",
        mode2.alias("px_mode"),
        F.coalesce(skip2, F.col("feats.decode_error")).alias("px_skip"),
        F.lit(True).alias("px_seen"),
    )
    media = spine.filter(F.col("kind") == "media").select(
        "doc_id", "media_ref", "mode", "status", "reason"
    )
    j = media.hint("SHUFFLE_HASH").join(fresh, "media_ref", "left").withColumn(
        # a media_ref with no blob row IS a pixel-level verdict: skip/error
        "px_skip",
        F.when(F.col("px_seen").isNull(), F.lit("missing_blob")).otherwise(
            F.col("px_skip")
        ),
    )

    v5 = _check(
        "mode_mismatch",
        F.lit(True),
        F.coalesce(F.col("mode"), F.lit("")) == F.coalesce(F.col("px_mode"), F.lit("")),
    )
    v6 = _check(
        "kept_but_skippable",
        F.col("status") == "kept",
        F.col("px_skip").isNull(),
    )
    v7 = _check(
        "skipped_but_processable",
        F.col("status").isin("skipped", "error") & (F.coalesce(F.col("reason"), F.lit("")) != "empty"),
        F.col("px_skip").isNotNull(),
    )
    checks = F.array(v5, v6, v7)
    per_span = j.select(
        "doc_id",
        F.aggregate(checks, F.lit(0), lambda a, c: a + c["applicable"]).alias("app"),
        F.aggregate(checks, F.lit(0), lambda a, c: a + c["passed"]).alias("ok"),
        F.filter(
            F.transform(checks, lambda c: c["mistake"]), lambda m: m.isNotNull()
        ).alias("mistakes"),
    )
    agg = per_span.groupBy("doc_id").agg(
        F.sum("app").alias("app"),
        F.sum("ok").alias("ok"),
        F.array_distinct(F.flatten(F.collect_list("mistakes"))).alias("mistakes"),
    )
    score = F.when(F.col("app") == 0, F.lit(100.0)).otherwise(
        F.round(F.col("ok") * 100.0 / F.col("app"), 1)
    )
    return agg.select("doc_id", "mistakes", score.alias("score"))
