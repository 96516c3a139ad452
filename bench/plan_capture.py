#!/usr/bin/env python
"""Capture .explain("formatted") for the named queries.

Usage: PYTHONPATH=<tree> python bench/plan_capture.py <out_dir> <suffix> <query>...
e.g.   PYTHONPATH=/tmp/parent python bench/plan_capture.py plans/r07 before \
           text_dsir_select train_corpus_ccnet

Run once from the parent commit's tree (suffix=before) and once from the
current tree (suffix=after) with the same query names; the two files per
query back the change's plan claims.  A query is any registered driver or
local-registry query, or ``documents_extract`` (the bench composite).
NB: queries whose builders run eager jobs (the CC loop, lineage cuts)
execute those jobs during capture — explain output then shows the
post-materialization plan, which is exactly what the bench's noop sink
executes.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import engine.entry  # noqa: F401  (registers queries)
import engine.multimodal  # noqa: F401
import engine.trainops  # noqa: F401
from engine.relational import local_registry, registry
from engine.session import get_spark


def documents_extract(spark, sf_dir):
    """extract_documents over materialized spans_out, built the way bench.py
    builds it (a bench composite, not a registered query)."""
    import tempfile

    from engine import fixtures
    from engine.parse import extract_documents
    from engine.pipeline import run_extraction

    cdir = Path(__file__).resolve().parents[1] / ".bench_cache" / (
        f"corpus-v{fixtures.FIXTURE_VERSION}-1234-4000"
    )
    so_dir = tempfile.mkdtemp(prefix="plans-spansout-")
    run_extraction(
        spark,
        spark.read.parquet(f"{cdir}/spans"),
        spark.read.parquet(f"{cdir}/media_blobs"),
        run_id="plans-docs",
    ).spans_out.write.mode("overwrite").parquet(so_dir)
    return extract_documents(spark.read.parquet(so_dir))


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out_dir, suffix, queries = Path(sys.argv[1]), sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plan-capture", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    builders = {q.name: q.build for q in registry()}
    builders.update({q.name: q.build for q in local_registry()})
    builders["documents_extract"] = documents_extract

    out_dir.mkdir(parents=True, exist_ok=True)
    for name in queries:
        if name not in builders:
            print(f"skip {name}: not registered in this tree")
            continue
        try:
            df = builders[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"CAPTURE FAILED: {type(exc).__name__}: {exc}"
        (out_dir / f"{name}_{suffix}.txt").write_text(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
