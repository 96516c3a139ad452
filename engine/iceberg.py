"""Iceberg DDL/DML builders for the checkpoint/resume layout (ICEBERG.md).

The sandbox has no iceberg-spark-runtime jar, so these statements cannot
EXECUTE here — but they can PARSE: every statement below uses syntax Spark's
own SQL parser accepts (CREATE TABLE ... USING iceberg, INSERT OVERWRITE,
MERGE INTO, DELETE FROM, and — native in Spark 4 — CALL), which
tests/test_iceberg_sql.py validates against
``sessionState().sqlParser().parsePlan`` on a jar-less session, alongside a
schema-match assertion pinning the DDL column lists to the live
derive_outputs frames.

On a real deployment (SPARK_GRAFT_ICEBERG=1 + jar on the classpath,
engine/session.py:85-107) these are the exact statements materialize_run's
mechanisms map onto — see ICEBERG.md's replacement table.
"""

from __future__ import annotations

from engine.io import OUTPUT_NAMES

SPAN_STRUCT = "ARRAY<STRUCT<kind: STRING, text: STRING, media_ref: STRING, offset: INT>>"

# spine columns mirror engine/pipeline.build_spine's output schema —
# single-sourced from engine.schema so io.py's schema-explicit spine reads
# and this DDL can never drift apart
from engine.schema import SPINE_DDL as _SPINE_COLS  # noqa: E402


def input_ddl(catalog: str = "lake") -> list[str]:
    """The two input tables, bucketed for 10^12 scale: spans by doc_id
    (bounded-size co-located units for resume/MERGE), media_blobs by
    media_ref, with small row groups so the decode-at-scan stage gets real
    split granularity (PLANS.md §4).  Honest scope note (r5): blob
    bucketing does NOT make the features join shuffle-free — the
    decode-at-scan mapInArrow rewrites the schema, so its output carries no
    recognized partitioning (the price of avoiding a pandas copy of every
    payload byte), and the join shuffles the two SMALL frames (features +
    span metadata) by design.  The storage-bucketing lever that IS
    demonstrated end-to-end is the SPINE bucketed by doc_id
    (io.materialize_run(bucket_spine=N), plan-asserted shuffle-free
    re-nest — the engine's only full-text exchange)."""
    return [
        f"""
        CREATE TABLE IF NOT EXISTS {catalog}.docs.spans (
          doc_id STRING,
          spans  {SPAN_STRUCT}
        ) USING iceberg
        PARTITIONED BY (bucket(4096, doc_id))
        """,
        f"""
        CREATE TABLE IF NOT EXISTS {catalog}.docs.media_blobs (
          media_ref STRING,
          payload   BINARY
        ) USING iceberg
        PARTITIONED BY (bucket(4096, media_ref))
        TBLPROPERTIES (
          'write.parquet.row-group-size-bytes' = '4194304',
          'read.split.target-size'             = '33554432'
        )
        """,
    ]


def output_ddl(catalog: str = "lake") -> list[str]:
    """One table per materialize_run output + the spine; run_id is a regular
    column AND the leading partition — the Iceberg twin of the local
    ``<table>/run=<id>`` directory layout (engine/io.py)."""
    stmts = [
        f"""
        CREATE TABLE IF NOT EXISTS {catalog}.extract.spine (
          {_SPINE_COLS}, run_id STRING
        ) USING iceberg
        PARTITIONED BY (run_id, bucket(1024, doc_id))
        """,
        f"""
        CREATE TABLE IF NOT EXISTS {catalog}.extract.spans_out (
          doc_id STRING,
          spans_out {SPAN_STRUCT},
          run_id STRING
        ) USING iceberg
        PARTITIONED BY (run_id, bucket(1024, doc_id))
        """,
    ]
    # mirrors engine/metrics.py output schemas exactly — guarded by
    # tests/test_iceberg_sql.py's schema-match assertion against the live
    # derive_outputs frames, so drift fails the suite
    flat = {
        "lineage": (
            "run_id STRING, partition_id INT, doc_id STRING, offset INT, "
            "status STRING, reason STRING"
        ),
        "metrics": (
            "run_id STRING, partition_id INT, docs_processed BIGINT, "
            "spans_kept BIGINT, spans_dropped BIGINT, errors BIGINT"
        ),
        "conf_hist": (
            "run_id STRING, partition_id INT, conf_bucket INT, conf_count BIGINT"
        ),
        "run_totals": (
            "run_id STRING, docs_total BIGINT, spans_total BIGINT, "
            "spans_kept BIGINT, errors BIGINT"
        ),
    }
    for name in OUTPUT_NAMES:
        if name == "spans_out":
            continue
        stmts.append(
            f"""
            CREATE TABLE IF NOT EXISTS {catalog}.extract.{name} (
              {flat[name]}
            ) USING iceberg
            PARTITIONED BY (run_id)
            """
        )
    return stmts


def overwrite_run_sql(table: str, run_id: str, select_sql: str, catalog: str = "lake") -> str:
    """Same-run_id redelivery idempotence: replace ONLY this run's partition
    (io.py's ``mode=overwrite`` of the run's own dir)."""
    return (
        f"INSERT OVERWRITE {catalog}.extract.{table} "
        f"PARTITION (run_id = '{run_id}') {select_sql}"
    )


def resume_anti_join_sql(run_id: str, catalog: str = "lake") -> str:
    """Unfinished-documents scan: the committed-spine anti-join
    (io.py materialize_run's ``todo``) expressed against the spine table."""
    return f"""
    SELECT s.* FROM {catalog}.docs.spans s
    LEFT ANTI JOIN (
      SELECT DISTINCT doc_id FROM {catalog}.extract.spine
      WHERE run_id <> '{run_id}'
    ) done ON s.doc_id = done.doc_id
    """


def merge_docs_sql(source_view: str = "new_run_spans_out", catalog: str = "lake") -> str:
    """Doc-level upsert variant (re-extraction after a detector fix): with
    both sides bucketed by doc_id, merge-on-read touches only the affected
    buckets — the in-place replacement local parquet cannot express."""
    return f"""
    MERGE INTO {catalog}.extract.spans_out t
    USING {source_view} s
      ON t.doc_id = s.doc_id
    WHEN MATCHED THEN UPDATE SET t.spans_out = s.spans_out, t.run_id = s.run_id
    WHEN NOT MATCHED THEN INSERT *
    """


def dedup_index_ddl(catalog: str = "lake") -> str:
    """The persisted MinHash band-signature index behind
    trainops.dedup_incremental: identity-partitioned by band (4 values) and
    bucketed by sig, so the nightly delta probe — an equi-join on
    (band, sig) — is partition-pruned to one band and bucket-local within
    it, and the post-dedup append (updated_signature_index) is a plain
    INSERT INTO with no rewrite."""
    return f"""
    CREATE TABLE IF NOT EXISTS {catalog}.curation.dedup_sigs (
      doc_id BIGINT, band INT, sig STRING
    ) USING iceberg
    PARTITIONED BY (band, bucket(4096, sig))
    """


def append_new_signatures_sql(
    verdicts_view: str = "batch_verdicts",
    sigs_view: str = "batch_sigs",
    catalog: str = "lake",
) -> str:
    """State carry as SQL: index only the batch docs judged ``new``
    (trainops.updated_signature_index's semi-join, append-only)."""
    return f"""
    INSERT INTO {catalog}.curation.dedup_sigs
    SELECT s.doc_id, s.band, s.sig FROM {sigs_view} s
    LEFT SEMI JOIN {verdicts_view} v
      ON s.doc_id = v.doc_id AND v.verdict = 'new'
    """


def media_groups_ddl(catalog: str = "lake") -> str:
    """The persisted media-dedup verdict table behind
    trainops.media_dedup_exact / media_dedup_features (one row per ref) —
    bucketed by media_ref, the SAME bucketing PLANS.md §5 prescribes for
    the blobs table, so strip_media_boilerplate's verdict join and any
    media_ref → canonical_ref rewrite are storage-local equi-joins with no
    exchange on either side."""
    return f"""
    CREATE TABLE IF NOT EXISTS {catalog}.curation.media_groups (
      media_ref STRING, n_refs BIGINT, canonical_ref STRING,
      is_boilerplate BOOLEAN
    ) USING iceberg
    PARTITIONED BY (bucket(1024, media_ref))
    """


def refresh_media_groups_sql(
    groups_view: str = "media_group_verdicts", catalog: str = "lake"
) -> str:
    """Verdict refresh as an idempotent upsert: re-running a nightly dedup
    pass replaces each ref's row (group size / canonical may shift as the
    corpus grows) without touching refs absent from the new pass."""
    return f"""
    MERGE INTO {catalog}.curation.media_groups t
    USING {groups_view} s ON t.media_ref = s.media_ref
    WHEN MATCHED THEN UPDATE SET
      n_refs = s.n_refs, canonical_ref = s.canonical_ref,
      is_boilerplate = s.is_boilerplate
    WHEN NOT MATCHED THEN INSERT
      (media_ref, n_refs, canonical_ref, is_boilerplate)
      VALUES (s.media_ref, s.n_refs, s.canonical_ref, s.is_boilerplate)
    """


def semantic_cells_ddl(catalog: str = "lake") -> str:
    """The persisted k-means cell assignment behind trainops.dedup_semdedup /
    sample_cluster_balanced (one row per embedded doc) — identity-partitioned
    by cluster, so within-cell pairing and per-cell balanced sampling are
    partition-pruned to single cells, and a new assignment pass (model
    refresh) replaces cells without rewriting the corpus."""
    return f"""
    CREATE TABLE IF NOT EXISTS {catalog}.curation.semantic_cells (
      vec_id BIGINT, cluster INT
    ) USING iceberg
    PARTITIONED BY (cluster)
    """


def refresh_semantic_cells_sql(
    assign_view: str = "kmeans_assignments", catalog: str = "lake"
) -> str:
    """Assignment refresh as an idempotent upsert: re-fitting the cells
    (more data, new k) re-labels every embedded doc; docs absent from the
    new pass keep their last assignment until a full refit replaces them."""
    return f"""
    MERGE INTO {catalog}.curation.semantic_cells t
    USING {assign_view} s ON t.vec_id = s.vec_id
    WHEN MATCHED THEN UPDATE SET cluster = s.cluster
    WHEN NOT MATCHED THEN INSERT (vec_id, cluster) VALUES (s.vec_id, s.cluster)
    """


def pq_codes_ddl(catalog: str = "lake") -> str:
    """The persisted PQ index behind trainops.pq_adc_topk: one M-byte code
    row per embedded doc (the 256 B float vector stays in the embeddings
    table; ANN scoring reads ONLY this).  Bucketed by vec_id so the codes
    join back to any doc-keyed frame bucket-locally; the coarse IVF cell
    rides along for partition-pruned cell probes (sim_ivfpq_topk)."""
    return f"""
    CREATE TABLE IF NOT EXISTS {catalog}.curation.pq_codes (
      vec_id BIGINT, coarse INT,
      code_0 INT, code_1 INT, code_2 INT, code_3 INT
    ) USING iceberg
    PARTITIONED BY (coarse, bucket(1024, vec_id))
    """


def refresh_pq_codes_sql(codes_view: str = "pq_codes_new", catalog: str = "lake") -> str:
    """Code refresh as an idempotent upsert (same discipline as
    semantic_cells): re-encoding after a codebook refit re-labels every
    embedded doc; codes are meaningless without their codebook, so a refit
    must replace codes atomically per doc — MERGE, not append."""
    return f"""
    MERGE INTO {catalog}.curation.pq_codes t
    USING {codes_view} s ON t.vec_id = s.vec_id
    WHEN MATCHED THEN UPDATE SET coarse = s.coarse, code_0 = s.code_0,
      code_1 = s.code_1, code_2 = s.code_2, code_3 = s.code_3
    WHEN NOT MATCHED THEN INSERT (vec_id, coarse, code_0, code_1, code_2, code_3)
      VALUES (s.vec_id, s.coarse, s.code_0, s.code_1, s.code_2, s.code_3)
    """


def weight_tables_ddl(catalog: str = "lake") -> list[str]:
    """The model-as-data artifacts the quality/selection scorers read —
    the slot for a learned fastText/LR (bucket → weight) table (the engine
    itself scores quality with the closed-form quality_model_score), DSIR
    per-domain log-ratio weights (dsir_weights / dsir_scores_multi), and
    the CCNet LM's unigram/bigram tables (lm_perplexity) all ship as
    (key → integer weight) rows.  Tiny (≤ 64k rows each, bigrams bounded
    by the reference sample), so unpartitioned single-file tables that
    broadcast whole; a nightly refit INSERT OVERWRITEs the snapshot, and
    time-traveling the snapshot IS the model version history."""
    return [
        f"""
    CREATE TABLE IF NOT EXISTS {catalog}.models.quality_weights (
      bucket INT, weight BIGINT
    ) USING iceberg
    """,
        f"""
    CREATE TABLE IF NOT EXISTS {catalog}.models.dsir_weights (
      domain STRING, bucket INT, weight BIGINT
    ) USING iceberg
    """,
        f"""
    CREATE TABLE IF NOT EXISTS {catalog}.models.lm_bigram_weights (
      grp STRING, pk BIGINT, c_w BIGINT
    ) USING iceberg
    """,
        # the dense unigram side (a_w) is NOT derivable from the bigram
        # table (unigram counts include doc-final tokens that appear in no
        # bigram first position — r5 advice), so it persists as its own
        # artifact and is refit nightly alongside
        f"""
    CREATE TABLE IF NOT EXISTS {catalog}.models.lm_unigram_weights (
      grp STRING, b1 INT, a_w BIGINT
    ) USING iceberg
    """,
    ]


def expire_runs_sql(expired_run_ids: list[str], catalog: str = "lake") -> list[str]:
    """S7 retention of RUNS: metadata-only partition drops across all output
    tables — io.py expire_runs' atomic per-run removal, Iceberg-side."""
    ids = ", ".join(f"'{r}'" for r in expired_run_ids)
    return [
        f"DELETE FROM {catalog}.extract.{t} WHERE run_id IN ({ids})"
        for t in ("spine",) + OUTPUT_NAMES
    ]


def expire_snapshots_call(catalog: str = "lake", hours: int = 72) -> str:
    """Snapshot expiry (storage reclamation under the run deletes).  Spark 4
    parses ``CALL`` natively (SQL stored procedures), so this is in the parse
    gate too; EXECUTION still requires the Iceberg runtime's procedure
    catalog."""
    return (
        f"CALL {catalog}.system.expire_snapshots(table => 'extract.spine', "
        f"older_than => now() - INTERVAL {hours} HOURS)"
    )


def parse_checked_statements(run_id: str = "r1") -> list[str]:
    """Every statement the jar-less parse gate validates."""
    return (
        input_ddl()
        + output_ddl()
        + [
            overwrite_run_sql(
                "spine", run_id, "SELECT * FROM staged_spine"
            ),
            resume_anti_join_sql(run_id),
            merge_docs_sql(),
            expire_snapshots_call(),
            dedup_index_ddl(),
            append_new_signatures_sql(),
            media_groups_ddl(),
            refresh_media_groups_sql(),
            semantic_cells_ddl(),
            refresh_semantic_cells_sql(),
            pq_codes_ddl(),
            refresh_pq_codes_sql(),
            *weight_tables_ddl(),
        ]
        + expire_runs_sql([run_id])
    )
