"""Segment-lifecycle proof keys (r03 VERDICT item 3): driver-level
CORRECTNESS rows for the build internals that previously had only pytest
evidence — fetch (sha invariant), sink_segments (manifest lineage), and
segment_merge (merge ≡ rebuild).

Reference anchors: fetch phase search/fetch/FetchPhase.java (_source
retrieval; our per-row invariant is BASELINE.json's content sha256
equality), segment write/commit [lucene dep] IndexWriter#commit +
translog lineage (index/translog/Translog.java), merge [lucene dep]
SegmentMerger / ES index/engine/ElasticsearchConcurrentMergeScheduler.

Each key emits engine-derived numbers that a DuckDB oracle re-derives
from the RAW corpus (never from the index), so a green row proves the
lifecycle step end-to-end: the manifest's lineage must add up to the
corpus truth, the merged segment must carry exactly the rebuilt posting
blocks, and fetched winners must hash back to their stored sha256.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import analysis
from .exec import local_frame
from .registry import Entry

REGISTRY: dict[str, Entry] = {}


def _reg(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = Entry(fn=fn, sql=sql)
        return fn
    return deco


_FETCH_TEXT, _FETCH_K = "value merge sort", 10


def _fetch_sha_sql() -> str:
    from . import oracle_sql as osql

    topk = osql.bm25_topk_sql(_FETCH_TEXT, _FETCH_K)
    return f"""
WITH topk AS ({topk})
SELECT t.doc_id, sha256(d.text) AS content_sha
FROM topk t JOIN documents d USING (doc_id)
ORDER BY t.doc_id"""


@_reg("q_fetch_sha", _fetch_sha_sql())
def q_fetch_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch phase with the sha256 invariant surfaced to the driver: the
    engine returns the STORED content_sha (computed once at ingest,
    build.py) for the BM25 top-k; the oracle recomputes sha256(text) in
    DuckDB over ITS top-k. A green hash row proves both the top-k doc
    set and end-to-end content integrity (BASELINE.json per-row
    invariant)."""
    import __spark_entry__ as em

    from . import exec as pexec

    idx = em._index_for(spark, sf_dir)
    hits = pexec.search(idx, _FETCH_TEXT, k=_FETCH_K)
    out = pexec.fetch(idx, hits)
    return out.select("doc_id", "content_sha").orderBy("doc_id")


_TOK_CTE = (f"tok AS (SELECT doc_id, "
            f"unnest({analysis.duckdb_tokens_nostop_expr('text')}) AS term "
            f"FROM documents)")


@_reg("sink_segments_manifest", f"""
WITH {_TOK_CTE}
SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
       CAST(count(*) AS BIGINT) AS sum_dl,
       CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
       (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT DISTINCT doc_id, term FROM tok)) AS n_postings
FROM tok""")
def sink_segments_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sink_segments: write the built segment to disk (write_index —
    parquet tables + manifest.json with per-bucket lineage), then report
    ONLY manifest/lineage-derived figures; the oracle re-derives every
    one from the raw corpus. Green row = the committed manifest's
    lineage accounting (docs, Σdl, per-bucket term/posting counts) is
    exactly the corpus truth."""
    import __spark_entry__ as em

    from . import build

    idx = em._index_for(spark, sf_dir)
    out_dir = tempfile.mkdtemp(prefix="pysearch_sink_")
    try:
        m = build.write_index(idx, out_dir)
        assert m["status"] == "committed"
        n_terms = sum(r["n_terms"] for r in m["lineage"])
        n_postings = sum(r["n_postings"] for r in m["lineage"])
        return local_frame(spark, 
            [(int(m["n_docs"]), int(m["sum_dl"]), int(n_terms),
              int(n_postings))],
            "n_docs long, sum_dl long, n_terms long, n_postings long")
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


@_reg("segment_merge_equiv", f"""
WITH {_TOK_CTE}
SELECT CAST(0 AS BIGINT) AS n_diff,
       CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
       (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT DISTINCT doc_id, term FROM tok)) AS n_postings
FROM tok""")
def segment_merge_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """segment_merge as a driver-checkable row: split the corpus by
    doc_id parity, build two segments, MERGE them (merge_indexes — block
    decode/re-encode, no re-tokenize), and diff the merged postings
    against a from-scratch rebuild of the full corpus (exceptAll both
    ways over every column including the encoded binaries). n_diff MUST
    be 0 (merge ≡ rebuild, byte-identical); n_terms/n_postings of the
    merged segment are re-derived by the oracle from the raw corpus."""
    from . import build, merge

    corpus = build.corpus_from_documents(spark, sf_dir)
    kw = dict(n_buckets=16, salt_threshold=64, n_salts=4)
    idx_a = build.build_index(spark, corpus.where(F.col("doc_id") % 2 == 0), **kw)
    idx_b = build.build_index(spark, corpus.where(F.col("doc_id") % 2 == 1), **kw)
    merged = merge.merge_indexes(spark, [idx_a, idx_b])
    full = build.build_index(spark, corpus, **kw)

    cols = [f.name for f in build.POSTINGS_SCHEMA.fields]
    mp, fp = merged.postings.select(*cols), full.postings.select(*cols)
    n_diff = mp.exceptAll(fp).count() + fp.exceptAll(mp).count()
    n_terms = merged.term_stats.count()
    n_postings = merged.postings.agg(
        F.coalesce(F.sum("n_in_block"), F.lit(0))).collect()[0][0]
    return local_frame(spark, 
        [(int(n_diff), int(n_terms), int(n_postings))],
        "n_diff long, n_terms long, n_postings long")
