"""Shared test fixtures: one local SparkSession + a small deterministic corpus."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from engine.fixtures import corpus_rows  # noqa: E402
from engine.schema import MEDIA_BLOBS_SCHEMA, SPANS_SCHEMA  # noqa: E402
from engine.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def corpus():
    """60 docs, seed 7 — covers every router branch, skew doc 0, corrupt blobs."""
    return corpus_rows(60, seed=7, skew_every=20, corrupt_rate=0.05)


@pytest.fixture(scope="session")
def corpus_dfs(spark, corpus):
    spans_rows, blob_rows = corpus
    spans = spark.createDataFrame(spans_rows, SPANS_SCHEMA)
    blobs = spark.createDataFrame(blob_rows, MEDIA_BLOBS_SCHEMA)
    return spans, blobs


@pytest.fixture
def job_descriptions(spark):
    """``run(fn)`` calls ``fn`` under a job description and returns the
    description of every job submitted meanwhile (None for a job that lost
    it, e.g. one submitted from a thread that did not inherit it)."""
    jsc = spark.sparkContext._jsc.sc()
    store = jsc.statusStore()

    def jobs():
        listed = store.jobsList(None)
        return [listed.apply(i) for i in range(listed.size())]

    def run(fn) -> list:
        jsc.listenerBus().waitUntilEmpty(30_000)
        mark = max((j.jobId() for j in jobs()), default=-1)
        spark.sparkContext.setJobDescription("described-op")
        try:
            fn()
        finally:
            spark.sparkContext.setJobDescription(None)
        jsc.listenerBus().waitUntilEmpty(30_000)
        return [
            j.description().get() if j.description().isDefined() else None
            for j in jobs()
            if j.jobId() > mark
        ]

    return run
