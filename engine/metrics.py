"""Lineage & metrics (S6/A3/A4/A6/X4 — SURVEY.md §2.1, §2.5, FIXTURES.md §5).

The reference accounts for every page — skipped pages are yielded inline and
re-joined so `prepared + skipped == total` (/root/reference/app/core/document/
pdf_processor.py:1293-1311, app/tasks.py:495-503) — and publishes progress over
Redis pub/sub (notifications.py:19-29).  Here:

- lineage: one row PER INPUT SPAN with a status — queryable partial progress,
  the invariant `count(lineage) == sum(size(spans))` is test-asserted;
- metrics: per-partition rollup + OCR-confidence histogram (A6) in one pass
  (grouping by (partition, conf_bucket) then summing gives both tables from a
  single shuffle at real scale; we keep two small aggs for clarity — each
  scans the spine materialize_run wrote to parquet, and the two writes run
  concurrently);
- observe(): named accumulators on the output DataFrame so a driver/listener
  can read counts without a second pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation


def lineage_df(spine: DataFrame, run_id: str) -> DataFrame:
    return spine.select(
        F.lit(run_id).alias("run_id"),
        F.spark_partition_id().alias("partition_id"),
        "doc_id",
        "offset",
        F.when(F.col("status") == "skipped", F.concat(F.lit("skipped_"), F.col("reason")))
        .otherwise(F.col("status"))
        .alias("status"),
        F.col("reason"),
    )


def metrics_df(spine: DataFrame, run_id: str) -> DataFrame:
    """Per-partition ADDITIVE counters, keyed by partition_id only.

    Keyed this way deliberately: a document whose spans carry several distinct
    conf values would be counted once per (partition, bucket) row if the
    histogram shared this aggregation, silently overcounting docs_processed in
    any rollup.  The confidence histogram lives in conf_histogram_df instead.
    docs_processed is distinct-per-partition (a doc whose spans straddle two
    spine partitions appears in both rows — per-partition progress semantics,
    same as the reference's per-batch counters)."""
    base = spine.select(
        F.spark_partition_id().alias("partition_id"), "doc_id", F.col("status")
    )
    return (
        base.groupBy("partition_id")
        .agg(
            F.countDistinct("doc_id").alias("docs_processed"),
            F.sum(F.when(F.col("status") == "kept", 1).otherwise(0)).alias("spans_kept"),
            F.sum(F.when(F.col("status") != "kept", 1).otherwise(0)).alias(
                "spans_dropped"
            ),
            F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias("errors"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_id",
            "docs_processed",
            "spans_kept",
            "spans_dropped",
            "errors",
        )
    )


def run_totals_df(spine: DataFrame, run_id: str) -> DataFrame:
    """ONE row per run with the exact distinct document count.

    Companion to :func:`metrics_df`: `docs_processed` there is
    distinct-PER-PARTITION (a doc whose spans straddle partitions appears in
    several rows), so summing it across partitions overcounts documents.
    Consumers that want "how many documents did this run process" read this
    table; the per-partition rows remain the progress/skew view."""
    return spine.agg(
        F.lit(run_id).alias("run_id"),
        F.countDistinct("doc_id").alias("docs_total"),
        F.count(F.lit(1)).alias("spans_total"),
        F.sum(F.when(F.col("status") == "kept", 1).otherwise(0)).alias("spans_kept"),
        F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias("errors"),
    )


def conf_histogram_df(spine: DataFrame, run_id: str) -> DataFrame:
    """A6 — OCR-confidence histogram (bucket = min(floor(conf*10), 9)),
    keyed by (partition_id, conf_bucket); spans without a confidence
    (text branch) are excluded."""
    return (
        spine.filter(F.col("conf").isNotNull())
        .select(
            F.spark_partition_id().alias("partition_id"),
            F.least(F.floor(F.col("conf") * 10).cast("int"), F.lit(9)).alias(
                "conf_bucket"
            ),
        )
        .groupBy("partition_id", "conf_bucket")
        .agg(F.count("*").alias("conf_count"))
        .select(
            F.lit(run_id).alias("run_id"), "partition_id", "conf_bucket", "conf_count"
        )
    )


def observed(df: DataFrame, name: str = "extraction") -> tuple[DataFrame, Observation]:
    """Attach observe() metrics to the spine — free counts at action time."""
    obs = Observation(name)
    return (
        df.observe(
            obs,
            F.count(F.lit(1)).alias("spans_total"),
            F.sum(F.when(F.col("status") == "kept", 1).otherwise(0)).alias("spans_kept"),
            F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias("errors"),
        ),
        obs,
    )
