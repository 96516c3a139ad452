"""The closed-loop workloads.

Each workload prepares its seeded corpus (untimed), opens it in the session
(timed as part of set-up), runs one op per call through the engine's public
entry points (timed), and checks that op's own output against the oracle
expectations (untimed).  ``layers`` runs only in a traced run: it forces each
layer's output over materialized inputs so every layer gets its own time.
"""

from __future__ import annotations

import shutil
import statistics
import time
from pathlib import Path

from perfbench import corpus


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _compare(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, expected {want!r}"]


def extract_features_ms(blobs_dir: Path, limit: int = 48) -> float:
    """Median per-payload time of bitmap.extract_features, single-threaded
    in this process, over three passes of the corpus's first ``limit``
    raster (SPB1) payloads."""
    import pyarrow.parquet as pq

    from engine import bitmap

    sample = []
    for f in sorted(blobs_dir.glob("*.parquet")):
        payloads = pq.read_table(f, columns=["payload"]).column("payload").to_pylist()
        sample += [p for p in payloads if p[:4] == bitmap.MAGIC][: limit - len(sample)]
    passes = []
    for _ in range(3):
        dt, _ = timed(lambda: [bitmap.extract_features(p) for p in sample])
        passes.append(dt * 1e3 / len(sample))
    return statistics.median(passes)


def decode_layer(blobs) -> dict:
    """decode_blobs forced over the blobs parquet, with a tiny aggregate as
    the sink so the decode errors are counted in the same pass."""
    from pyspark.sql import functions as F

    from engine.layout import decode_blobs

    dt, row = timed(
        lambda: decode_blobs(blobs)
        .agg(F.count("*").alias("n"), F.count("feats.decode_error").alias("errors"))
        .collect()[0]
    )
    return {
        "layout.decode_s": dt,
        "layout.payloads_per_s": row["n"] / dt,
        "layout.decode_errors": float(row["errors"]),
    }


class Workload:
    name = ""
    n_docs = 0
    # Steady ops per run, at least; op_s_p50 is their median.  Each
    # workload runs as many as keep a run near one minute on four cores.
    min_steady = 3

    def __init__(self, root: Path, seed: int, cores: int):
        self.root, self.seed, self.cores = root, seed, cores
        self.work = root / ".perfbench_out" / f"{self.name}-s{seed}"
        self.spark = None

    def prepare(self) -> None:
        """Builds or finds the seeded corpus; sets spans_dir, blobs_dir,
        expect and payloads."""
        raise NotImplementedError

    def open(self, spark) -> None:
        from engine.schema import MEDIA_BLOBS_SCHEMA, SPANS_SCHEMA

        self.spark = spark
        shutil.rmtree(self.work, ignore_errors=True)
        self.work.mkdir(parents=True)
        self.spans = spark.read.schema(SPANS_SCHEMA).parquet(str(self.spans_dir))
        self.blobs = spark.read.schema(MEDIA_BLOBS_SCHEMA).parquet(str(self.blobs_dir))

    def op(self, i: int, tr):
        raise NotImplementedError

    def check(self, out) -> list[str]:
        raise NotImplementedError

    def cleanup(self, out) -> None:
        pass

    def traced_out(self, out) -> dict:
        """What a traced op's output says about its layers, taken before
        cleanup."""
        return {}

    def op_layers(self, tr, outs: list[dict]) -> dict:
        """Per-layer figures taken from the traced ops themselves."""
        return {}

    def layers(self, tr, counters) -> dict:
        raise NotImplementedError


class ReceiptsBulk(Workload):
    """SPG1 receipts through engine.io.materialize_run into a fresh out dir,
    then canonical documents from the read-back spans_out to the noop sink,
    then run_totals collected."""

    name = "receipts_bulk"
    n_docs = 1000

    def prepare(self) -> None:
        d = corpus.receipts_spg1(self.root, self.seed, self.n_docs)
        self.spans_dir, self.blobs_dir = d / "spans", d / "media_blobs"
        self.expect = corpus.load_expect(d)
        self.payloads = self.expect["payloads"]
        self.in_bytes = corpus.input_bytes(self.spans_dir, self.blobs_dir)

    def op(self, i: int, tr):
        from engine.io import committed_spine_dirs, materialize_run
        from engine.parse import doc_modes, extract_documents
        from engine.schema import SPINE_DDL

        spark, out_dir = self.spark, self.work / f"op{i}"
        with tr.span("io.materialize_run"):
            outs = materialize_run(spark, self.spans, self.blobs, str(out_dir), run_id=f"op{i}")
        with tr.span("parse.extract_documents"):
            spine = spark.read.schema(SPINE_DDL).parquet(*committed_spine_dirs(str(out_dir)))
            docs = extract_documents(outs["spans_out"], doc_modes(spine))
        with tr.span("sink.noop"):
            noop(docs)
        with tr.span("sink.run_totals"):
            totals = outs["run_totals"].collect()
        return {"dir": out_dir, "outs": outs, "totals": totals}

    def check(self, out) -> list[str]:
        """Exact run_totals, the lineage invariant, and the golden docs'
        spans_out read back from this op's output directory."""
        from pyspark.sql import functions as F

        want, outs = self.expect["totals"], out["outs"]
        if len(out["totals"]) != 1:
            return [f"run_totals: {len(out['totals'])} rows, expected 1"]
        errs = []
        for key in ("docs_total", "spans_total", "spans_kept", "errors"):
            errs += _compare(f"run_totals.{key}", out["totals"][0][key], want[key])
        errs += _compare(
            "count(lineage) vs sum(size(spans))", outs["lineage"].count(), want["spans_total"]
        )
        golden = self.expect["golden"]
        rows = outs["spans_out"].filter(F.col("doc_id").isin(list(golden))).collect()
        got = {
            r["doc_id"]: [[s["kind"], s["text"], s["media_ref"], s["offset"]] for s in r["spans_out"]]
            for r in rows
        }
        return errs + [
            f"golden doc {doc_id}: spans_out differs from the oracle"
            for doc_id, spans in golden.items()
            if got.get(doc_id) != spans
        ]

    def cleanup(self, out) -> None:
        if out is not None:
            shutil.rmtree(out["dir"], ignore_errors=True)

    def traced_out(self, out) -> dict:
        return {"written_b": corpus.input_bytes(out["dir"])}

    def op_layers(self, tr, outs: list[dict]) -> dict:
        written = statistics.median(o["written_b"] for o in outs)
        return {
            "io.materialize_s": statistics.median(tr.durations("io.materialize_run")),
            "io.written_mb": written / 2**20,
            "io.write_amp": written / self.in_bytes,
        }

    def layers(self, tr, counters) -> dict:
        from pyspark.sql import functions as F

        from engine import textops
        from engine.assemble import reassemble
        from engine.metrics import conf_histogram_df, lineage_df, metrics_df, run_totals_df
        from engine.parse import doc_modes, extract_documents
        from engine.pipeline import build_spine
        from engine.schema import SPINE_DDL

        spark, work = self.spark, self.work / "layers"
        m = {}
        with tr.span("layout.decode_blobs"):
            m.update(decode_layer(self.blobs))
        with tr.span("pipeline.build_spine"):
            m["pipeline.spine_s"], _ = timed(
                lambda: build_spine(spark, self.spans, self.blobs)
                .write.mode("overwrite").parquet(str(work / "spine"))
            )
        spine = spark.read.schema(SPINE_DDL).parquet(str(work / "spine"))
        (
            self.spans.select("doc_id", F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "text")
            .select("doc_id", "s.offset", "s.text")
            .write.mode("overwrite").parquet(str(work / "text_spans"))
        )
        texts = spark.read.parquet(str(work / "text_spans"))
        with tr.span("textops.normalize_span_text"):
            m["textops.normalize_s"], _ = timed(
                lambda: noop(texts.select(
                    "doc_id", textops.normalize_span_text(F.coalesce(F.col("text"), F.lit("")))
                ))
            )
        with tr.span("assemble.reassemble"):
            m["assemble.reassemble_s"], _ = timed(lambda: noop(reassemble(spine)))

        def derive():
            for frame in (lineage_df, metrics_df, conf_histogram_df):
                noop(frame(spine, "layers"))
            run_totals_df(spine, "layers").collect()

        with tr.span("metrics.derive"):
            m["metrics.derive_s"], _ = timed(derive)
        reassemble(spine).write.mode("overwrite").parquet(str(work / "spans_out"))
        spans_out = spark.read.parquet(str(work / "spans_out"))
        with tr.span("parse.extract_documents"):
            m["parse.documents_s"], _ = timed(
                lambda: noop(extract_documents(spans_out, doc_modes(spine)))
            )
        shutil.rmtree(work, ignore_errors=True)
        return m


class CurateInterleaved(Workload):
    """engine.trainops.curate_interleaved over the planted interleaved
    curation corpus, with the collected curated spans as the sink."""

    name = "curate_interleaved"
    n_docs = 600
    min_steady = 4

    def prepare(self) -> None:
        d = corpus.curation_corpus(self.root, self.seed, self.n_docs, self.cores)
        self.spans_dir, self.blobs_dir = d / "spans", d / "media_blobs"
        self.expect = corpus.load_expect(d)
        self.payloads = self.n_docs  # one page per doc

    def _exploded(self):
        from pyspark.sql import functions as F

        return self.spans.select("doc_id", F.explode("spans").alias("s")).select(
            "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
        )

    def op(self, i: int, tr):
        from engine.layout import decode_blobs
        from engine.trainops import curate_interleaved

        with tr.span("trainops.curate_interleaved"):
            with tr.span("layout.decode_blobs"):
                feats = decode_blobs(self.blobs)
            out = curate_interleaved(self._exploded(), feats)
        with tr.span("sink.collect"):
            return out.select("doc_id", "offset", "kind", "media_ref").collect()

    def check(self, rows) -> list[str]:
        """The tests/parity canonical-row hash against the DuckDB SQL
        registered for x_curate_interleaved_spans."""
        if corpus.canon_hash([r.asDict() for r in rows]) != self.expect["row_hash"]:
            return [
                f"curated rows differ from the DuckDB oracle "
                f"({len(rows)} rows, expected {self.expect['rows']})"
            ]
        return []

    def traced_out(self, rows) -> dict:
        return {"kept_docs": len({r["doc_id"] for r in rows})}

    def op_layers(self, tr, outs: list[dict]) -> dict:
        return {"trainops.kept_frac": outs[-1]["kept_docs"] / self.n_docs}

    def layers(self, tr, counters) -> dict:
        from pyspark.sql import functions as F

        from engine.layout import decode_blobs
        from engine.trainops import (
            assemble_doc_text,
            connected_components,
            curation_edges,
            curation_labeled,
            media_dedup_features,
            strip_media_boilerplate,
        )

        spark, work = self.spark, self.work / "layers"
        m = {}
        self._exploded().write.mode("overwrite").parquet(str(work / "exploded"))
        exploded = spark.read.parquet(str(work / "exploded"))
        with tr.span("trainops.assemble_doc_text"):
            m["trainops.assemble_text_s"], _ = timed(
                lambda: assemble_doc_text(exploded)
                .withColumn("source", F.lit("interleaved"))
                .write.mode("overwrite").parquet(str(work / "assembled"))
            )
        assembled = spark.read.parquet(str(work / "assembled"))
        with tr.span("trainops.curation_labeled"):
            m["trainops.labeled_s"], labeled = timed(lambda: curation_labeled(assembled))
        with tr.span("trainops.curation_edges"):
            m["trainops.edges_s"], edges = timed(
                lambda: curation_edges(labeled).localCheckpoint(eager=True)
            )
        m["trainops.edges"] = float(edges.count())
        mark = counters.watermark()
        with tr.span("trainops.connected_components"):
            m["trainops.cc_s"], _ = timed(lambda: noop(connected_components(edges)))
        m["trainops.cc_jobs"] = float(counters.read(mark, 0.0, 0.0)["jobs"])
        with tr.span("layout.decode_blobs"):
            m.update(decode_layer(self.blobs))
        decode_blobs(self.blobs).write.mode("overwrite").parquet(str(work / "feats"))
        feats = spark.read.parquet(str(work / "feats"))
        with tr.span("trainops.media_dedup_features"):
            m["trainops.media_groups_s"], _ = timed(
                lambda: media_dedup_features(feats)
                .write.mode("overwrite").parquet(str(work / "groups"))
            )
        groups = spark.read.parquet(str(work / "groups"))
        with tr.span("trainops.strip_media_boilerplate"):
            m["trainops.strip_s"], _ = timed(
                lambda: noop(strip_media_boilerplate(exploded, groups))
            )
        m["bitmap.extract_features_ms"] = extract_features_ms(self.blobs_dir)
        shutil.rmtree(work, ignore_errors=True)
        return m


WORKLOADS = {w.name: w for w in (ReceiptsBulk, CurateInterleaved)}
