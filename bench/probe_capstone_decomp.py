#!/usr/bin/env python
"""Cost decomposition of x_curate_interleaved_spans (noop sink per subtree).

Pieces timed independently (each builds from the parquet inputs; nothing is
shared or cached across pieces):

  decode      - _interleaved_curation_corpus blobs -> decode_blobs -> features
  media_strip - decode + media_dedup_features + strip_media_boilerplate
  assemble    - exploded spans -> assemble_doc_text
  labeled     - assemble + quality/repetition flags (the pre-dedup chain,
                up to and including the curation_labeled cut)
  pairs       - labeled -> survivors -> minhash pairs (band self-join)
  cc          - pairs -> symmetric edges -> connected_components (stats
                recorded: iterations, checks)
  full        - the registered query end-to-end (reference point)

Prints one JSON line with per-piece best-of-N and the CC stats.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

import engine.entry as entry  # noqa: E402
import engine.trainops as T  # noqa: E402
from engine.layout import decode_blobs  # noqa: E402
from engine.session import get_spark  # noqa: E402

REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    os.environ.setdefault("SPARK_GRAFT_PIN_HEAP", "1")
    spark = get_spark("probe-capstone-decomp", cores=cpus)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    cc_stats: dict = {}

    def build_exploded():
        spans, blobs = entry._interleaved_curation_corpus(spark, sf_dir)
        exploded = spans.select("doc_id", F.explode("spans").alias("s")).select(
            "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
        )
        return exploded, blobs

    def piece_decode():
        _, blobs = build_exploded()
        return decode_blobs(blobs)

    def piece_media_strip():
        exploded, blobs = build_exploded()
        return T.strip_media_boilerplate(
            exploded, T.media_dedup_features(decode_blobs(blobs))
        )

    def piece_assemble():
        exploded, _ = build_exploded()
        return T.assemble_doc_text(exploded)

    def _labeled():
        exploded, _ = build_exploded()
        return T.curation_labeled(
            T.assemble_doc_text(exploded).withColumn("source", F.lit("interleaved"))
        )

    def piece_labeled():
        return _labeled()

    def _edges():
        return T.curation_edges(_labeled())

    def piece_pairs():
        return _edges()

    def piece_cc():
        return T.connected_components(_edges(), stats=cc_stats)

    def piece_full():
        return entry.x_curate_interleaved_spans(spark, sf_dir)

    pieces = {
        "decode": piece_decode,
        "media_strip": piece_media_strip,
        "assemble": piece_assemble,
        "labeled": piece_labeled,
        "pairs": piece_pairs,
        "cc": piece_cc,
        "full": piece_full,
    }
    out: dict[str, list[float]] = {k: [] for k in pieces}
    for _ in range(REPEATS):
        for name, fn in pieces.items():
            t0 = time.time()
            noop(fn())
            out[name].append(round(time.time() - t0, 2))
    print(
        json.dumps(
            {
                "pieces_best": {k: min(v) for k, v in out.items()},
                "pieces_all": out,
                "cc_stats": cc_stats,
            }
        )
    )


if __name__ == "__main__":
    main()
