"""Seeded benchmark inputs and the expectations their oracles give.

Each workload's corpus is a pure function of (fixture version, seed, size).
It is written once as parquet under ``.perfbench_cache/`` in the checkout,
next to ``expect.json``: the exact totals and a golden sample computed from
``tests/oracle.py``, or the canonical-row hash of the DuckDB SQL registered
for ``x_curate_interleaved_spans``.  Timed ops only read these files.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from pathlib import Path

# Bump when the benchmark's own corpus layout changes (the engine's fixture
# versions are part of every cache key as well).
LAYOUT_VERSION = 3

# Docs whose spans_out the golden check reads back from each op's output.
GOLDEN_DOCS = 16

# Parquet files per input table, so the local[N] scans get several splits.
PARTS = 8


def cache_dir(root: Path, name: str, seed: int, n_docs: int) -> Path:
    from engine import fixtures

    version = (
        f"f{fixtures.FIXTURE_VERSION}b{fixtures.BITMAP_FIXTURE_VERSION}l{LAYOUT_VERSION}"
    )
    return root / ".perfbench_cache" / f"{name}-{version}-s{seed}-n{n_docs}"


def _write_parts(table, out: Path) -> None:
    import pyarrow.parquet as pq

    out.mkdir(parents=True)
    step = -(-table.num_rows // PARTS)
    for k in range(PARTS):
        pq.write_table(table.slice(k * step, step), out / f"part-{k:05d}.parquet")


def receipts_spg1(root: Path, seed: int, n_docs: int) -> Path:
    """SPG1 (codec JSON) receipts corpus from engine.fixtures.gen_doc, with
    exact run totals and golden spans_out from tests/oracle.py."""
    import pyarrow as pa

    from engine import fixtures
    from tests import oracle

    final = cache_dir(root, "spg1", seed, n_docs)
    if (final / "expect.json").exists():
        return final
    spans_rows, blob_rows = fixtures.corpus_rows(n_docs, seed=seed)
    blobs = {b["media_ref"]: b["payload"] for b in blob_rows}
    totals = {"docs_total": n_docs, "spans_total": 0, "spans_kept": 0, "errors": 0}
    outs = []
    for row in spans_rows:
        out, lineage = oracle.process_doc(row["spans"], blobs)
        totals["spans_total"] += len(row["spans"])
        totals["spans_kept"] += sum(1 for s in lineage.values() if s == "kept")
        totals["errors"] += sum(1 for s in lineage.values() if s == "error")
        outs.append(out)
    golden_ids = random.Random(f"golden:{seed}").sample(range(n_docs), GOLDEN_DOCS)
    golden = {spans_rows[i]["doc_id"]: [list(t) for t in outs[i]] for i in golden_ids}

    spans_schema, blobs_schema = fixtures._pa_schemas()
    tmp = final.with_name(final.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    _write_parts(pa.Table.from_pylist(spans_rows, schema=spans_schema), tmp / "spans")
    _write_parts(pa.Table.from_pylist(blob_rows, schema=blobs_schema), tmp / "media_blobs")
    expect = {"totals": totals, "golden": golden, "payloads": len(blob_rows)}
    (tmp / "expect.json").write_text(json.dumps(expect))
    # renamed into place only when complete, so an interrupted run never
    # leaves a half-written corpus that a later run would trust
    tmp.rename(final)
    return final


# ---------------------------------------------------------------------------
# Interleaved-curation corpus
# ---------------------------------------------------------------------------

# The shape of the 'documents' table the curation corpus is derived from:
# words from a 30-word vocabulary, 20 sources, and ~5% of docs a copy of
# another doc's text plus one word (near-duplicates for the LSH).  Texts are
# 150-300 words, longer than the 10-99 of the test-data documents table: the
# curation corpus appends the same boilerplate and tail-marker spans to
# every doc, and on short texts those shared shingles alone link random
# docs into chains whose length, and so the CC iteration count (3 or 6),
# changes from seed to seed.  At this length the planted duplicates are
# what the LSH finds, and the CC work is the same for every seed.
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en",) * 8 + ("zh", "es", "fr", "de") * 3
NEAR_DUP_RATE = 0.05


def documents_rows(seed: int, n_docs: int) -> list[dict]:
    texts = []
    for i in range(n_docs):
        rng = random.Random(f"doc:{seed}:{i}")
        texts.append(" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(150, 300))))
    rows = []
    for i in range(n_docs):
        rng = random.Random(f"dup:{seed}:{i}")
        text = texts[i]
        if rng.random() < NEAR_DUP_RATE:
            text = texts[rng.randrange(n_docs)] + " dup"
        rows.append({
            "doc_id": i,
            "text": text,
            "lang": rng.choice(_LANGS),
            "source": f"src{i % 20}",
            "n_chars": len(text),
        })
    return rows


# The curation corpus for a seed is a slice of one pool that
# engine.entry._interleaved_curation_corpus makes once per checkout (a Spark
# job that also renders one raster page per doc).  The seed picks which
# aligned 10-doc blocks of the pool the corpus uses.  That function mirrors
# doc d from doc d-1 when d % 10 == 7, so whole blocks keep every mirror
# beside its source, and each picked doc's spans and page are exactly what
# it makes for that doc.
POOL_DOCS = 4000
BLOCK = 10


def curation_pool(root: Path, cores: int) -> Path:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.entry import _interleaved_curation_corpus
    from perfbench.probes import start_session, stop_session

    pool = cache_dir(root, "curate-pool", 0, POOL_DOCS)
    if (pool / "_READY").exists():
        return pool
    shutil.rmtree(pool, ignore_errors=True)
    pool.mkdir(parents=True)
    pq.write_table(pa.Table.from_pylist(documents_rows(0, POOL_DOCS)), pool / "documents.parquet")
    spark = start_session(root, "perfbench-corpus", cores)
    try:
        spans, blobs = _interleaved_curation_corpus(spark, str(pool))
        spans.write.parquet(str(pool / "spans"))
        blobs.write.parquet(str(pool / "media_blobs"))
    finally:
        stop_session(spark)
    (pool / "_READY").touch()
    return pool


def curation_corpus(root: Path, seed: int, n_docs: int, cores: int) -> Path:
    """The seed's slice of the curation pool, and the DuckDB expectation
    for it."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    final = cache_dir(root, "curate", seed, n_docs)
    if (final / "expect.json").exists():
        return final
    pool = curation_pool(root, cores)
    blocks = random.Random(f"blocks:{seed}").sample(range(POOL_DOCS // BLOCK), n_docs // BLOCK)
    ids = sorted(b * BLOCK + k for b in blocks for k in range(BLOCK))

    def pick(table, column: str, keys: list):
        return table.filter(pc.is_in(table[column], value_set=pa.array(keys)))

    tmp = final.with_name(final.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    docs = pick(pq.read_table(pool / "documents.parquet"), "doc_id", ids)
    pq.write_table(docs, tmp / "documents.parquet")
    _write_parts(pick(pq.read_table(pool / "spans"), "doc_id", [str(i) for i in ids]), tmp / "spans")
    _write_parts(
        pick(pq.read_table(pool / "media_blobs"), "media_ref", [f"doc-media-{i}" for i in ids]),
        tmp / "media_blobs",
    )
    (tmp / "expect.json").write_text(json.dumps(_curation_expectation(tmp, n_docs)))
    tmp.rename(final)
    return final


def _curation_expectation(d: Path, n_docs: int) -> dict:
    """Canonical-row hash of the DuckDB SQL registered for
    x_curate_interleaved_spans, evaluated over this corpus's documents."""
    import duckdb

    import engine.entry  # noqa: F401  (registers the driver queries)
    from engine.relational import registry
    from tests import parity

    sql = next(q.sql for q in registry() if q.name == "x_curate_interleaved_spans")
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{d / 'documents.parquet'}'"
        )
        rows = parity.duck_rows(con, sql)
    finally:
        con.close()
    return {
        "rows": len(rows),
        "row_hash": canon_hash(rows),
        "kept_docs": len({r["doc_id"] for r in rows}),
        "docs": n_docs,
    }


def canon_hash(rows: list[dict]) -> str:
    import hashlib

    from tests import parity

    return hashlib.sha256(repr(parity.canon_rows(rows)).encode()).hexdigest()


def load_expect(d: Path) -> dict:
    return json.loads((d / "expect.json").read_text())


def input_bytes(*dirs: Path) -> int:
    total = 0
    for top in dirs:
        for base, _, files in os.walk(top, followlinks=True):
            total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total
