"""Document update/delete lifecycle — versioned re-index, soft deletes,
point-in-time snapshots, and merge-time delete dropping (the r04
VERDICT's one missing reference behavior).

Reference anchors (upstream ES tree; checkout empty, grep-able paths):
  * server/src/main/java/org/elasticsearch/index/engine/InternalEngine.java
    — #index plans an update as delete+add under a new seq_no
    (#planIndexingAsPrimary), #delete soft-deletes the doc.
  * index/VersionType.java + index/seqno/LocalCheckpointTracker.java —
    monotone seq_no per operation; the view's seq_no mirrors it.
  * [lucene dep] soft-deletes (IndexWriter#softUpdateDocument) +
    SegmentMerger: deleted docs stay PHYSICALLY present — collection
    stats (N, avgdl) and per-term df still count them — until a merge
    rewrites the segment without them. Lucene's docFreq-includes-deletes
    behavior is why ES scores shift after a forcemerge.

Spark formulation:
  * An IndexView = (physical Index, frozenset of soft-deleted doc_ids,
    seq_no). Views are IMMUTABLE — delete/update return a NEW view, so a
    point-in-time reader (scroll/PIT) that captured an old view keeps
    seeing the pre-delete snapshot for free (tests pin this).
  * update_doc builds a 1..n-row DELTA segment for the new version
    (fresh doc_id = max+1, the Lucene "add" half) and merges it into the
    physical index (merge_indexes — block-level, no re-tokenize of the
    base), soft-deleting the old doc_id. ES buffers adds into an
    in-memory segment and defers compaction to the merge policy; the
    eager delta-merge here materializes the SAME logical index state
    (stats include both versions, old version filtered by live-docs), it
    just pays the write amplification earlier. At cluster scale updates
    batch into delta segments per refresh interval and the merge policy
    amortizes exactly like ES.
  * search_view scores over the physical index (deleted docs still
    count in df/N — Lucene pre-merge semantics), over-fetches
    k + |deletes| and drops deleted doc_ids — the live-docs bitset
    applied at collection time. |deletes| per segment is bounded by the
    merge policy (ES default caps deletes at ~33% before forcing a
    merge), so the over-fetch is a constant factor, and the isin
    becomes an anti-join against the deletes side table past
    _ISIN_MAX_DELETES.
  * compact() is SegmentMerger dropping deletes: posting blocks DECODE
    to posting grain (merge.decode_to_posting_rows — no re-tokenize),
    deleted postings are filtered, df/cf/N/avgdl recompute from the
    survivors, and the build's postings writer (build.encode_postings)
    re-frames the blocks — so compact(view) is BYTE-IDENTICAL to
    building the live corpus from scratch at the preserved doc_ids
    (pytest-pinned).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import build, merge, store
from . import exec as pexec
from .build import Index, Stats
from .registry import Entry

REGISTRY: dict[str, Entry] = {}


def _reg(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = Entry(fn=fn, sql=sql)
        return fn
    return deco


#: above this many live deletes the reader's isin literal list becomes an
#: anti-join against a deletes DataFrame (a literal IN-list in the plan
#: stops being free somewhere in the thousands).
_ISIN_MAX_DELETES = 10_000


@dataclass(frozen=True)
class IndexView:
    """A point-in-time reader over a physical index: live docs =
    physical docs minus soft-deletes. Immutable — every operation
    returns a new view with seq_no + 1 (LocalCheckpointTracker)."""
    index: Index
    deletes: frozenset = frozenset()
    seq_no: int = 0

    @property
    def n_live(self) -> int:
        return self.index.stats.n_docs - len(self.deletes)


def open_view(index: Index) -> IndexView:
    return IndexView(index=index, deletes=frozenset(), seq_no=0)


def delete_doc(view: IndexView, doc_id: int) -> IndexView:
    """Soft delete (InternalEngine#delete): the doc stays in postings and
    stats; only the reader's live-docs set shrinks."""
    return IndexView(index=view.index,
                     deletes=view.deletes | {int(doc_id)},
                     seq_no=view.seq_no + 1)


def update_doc(view: IndexView, doc_id: int, new_content: str) -> IndexView:
    """Versioned re-index (InternalEngine#index on an existing _id):
    soft-delete the old doc_id and add the new version under a FRESH
    doc_id (Lucene never rewrites a doc in place) via a delta-segment
    merge. Identity columns (repo, path, commit, lang) carry over.

    A base with positions keeps them: the merged index's positions are
    base ∪ delta rows (the doc_ids are disjoint, so the union is exact),
    and the delta's rows are materialized as a local relation, so phrase
    legs over the view stay pruned scans that never re-tokenize."""
    idx = view.index
    spark = idx.docs.sparkSession
    new_id = int(idx.docs.agg(F.max("doc_id")).collect()[0][0]) + 1
    delta_corpus = (
        idx.docs.where(F.col("doc_id") == int(doc_id))
        .select(F.lit(new_id).cast("long").alias("doc_id"),
                "repo", "path", "commit", "lang",
                F.lit(new_content).alias("content")))
    with_positions = idx.positions is not None
    # the merge salts with the base's meta; the delta's own salting only
    # routes its terms to merge's fast or re-salt path
    delta = build.build_index(
        spark, delta_corpus, n_buckets=idx.n_buckets,
        k1=idx.k1, b=idx.b, cache=False, with_positions=with_positions)
    merged = merge.merge_indexes(spark, [idx, delta])
    if with_positions:
        delta_pos = pexec.local_frame(spark, delta.positions.toPandas(),
                                      build.POSITIONS_SCHEMA)
        merged.positions = idx.positions.unionByName(delta_pos)
    return IndexView(index=merged,
                     deletes=view.deletes | {int(doc_id)},
                     seq_no=view.seq_no + 1)


def _drop_deleted(df: DataFrame, deletes: frozenset,
                  col: str = "doc_id") -> DataFrame:
    if not deletes:
        return df
    if len(deletes) <= _ISIN_MAX_DELETES:
        return df.where(~F.col(col).isin(sorted(deletes)))
    dd = pexec.local_frame(df.sparkSession,
                           [(int(d),) for d in sorted(deletes)], f"{col} long")
    return df.join(dd, col, "left_anti")


def search_view(view: IndexView, text_or_terms, k: int = 10,
                mode: str = "or") -> DataFrame:
    """Top-k BM25 over the LIVE docs of the view, ordered (score desc,
    doc_id asc). Scores use the PHYSICAL stats (deleted docs still count
    in df/N/avgdl — Lucene pre-merge semantics); deleted docs are dropped
    from the candidate ranking, never from the statistics. Over-fetching
    k + |deletes| bounds the filtered top-k exactly (at most |deletes|
    ranked rows can be removed). Local hits are filtered in pandas (no
    sort, no Spark job on a committed segment), distributed ones in Spark."""
    idx = view.index
    q = pexec.Query(0, pexec._terms(text_or_terms), k + len(view.deletes), mode)
    if pexec._strategy(idx, [q]) == "local":
        hits = pexec.search_interactive(idx, q.terms, k=q.k, mode=mode)
        live = hits[~hits["doc_id"].isin(sorted(view.deletes))].head(k)
        return pexec.local_frame(idx.docs.sparkSession, live,
                                 "doc_id long, score double")
    hits = pexec._search_distributed(idx, [q]).select("doc_id", "score")
    return (_drop_deleted(hits, view.deletes)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def compact(view: IndexView, *, cache: bool = True) -> Index:
    """Merge-drops-deletes ([lucene dep] SegmentMerger over soft-deleted
    docs): rewrite the physical segment WITHOUT the deleted docs and
    with stats recomputed from the survivors — no re-tokenization.
    Blocks decode to posting grain, deleted postings filter out, df/cf
    re-aggregate, and the build's postings writer re-frames the blocks, so
    the output is byte-identical to a from-scratch build of the live
    corpus at the preserved doc_ids (tested)."""
    idx, deletes = view.index, view.deletes

    docs = _drop_deleted(idx.docs, deletes)
    if cache:
        docs = docs.persist(StorageLevel.DISK_ONLY)
    srow = docs.agg(F.count("*").alias("n"),
                    F.coalesce(F.sum("dl"), F.lit(0)).alias("s")).collect()[0]
    stats = Stats(n_docs=int(srow["n"]), sum_dl=int(srow["s"]))

    # decode -> drop deleted postings -> recompute term stats (survivors
    # only: a term whose last doc died leaves the dictionary, exactly as
    # a rebuild would). ONE posting-grain shuffle (the term groupBy),
    # then the build's (term, salt) encode exchange.
    live = _drop_deleted(
        merge.decode_to_posting_rows(idx.postings), deletes)
    if cache:
        live = live.persist(StorageLevel.DISK_ONLY)
    term_stats = build.with_n_salts(
        live.groupBy("term").agg(F.count("*").alias("df"), F.sum("tf").alias("cf")),
        idx.meta)
    if cache:
        term_stats = term_stats.persist()

    postings = build.encode_postings(
        live.join(F.broadcast(term_stats.select("term", "df", "n_salts")), "term"),
        stats, idx.k1, idx.b, idx.n_buckets)
    if cache:
        postings = postings.persist()

    positions = (_drop_deleted(idx.positions, deletes)
                 if idx.positions is not None else None)
    return Index(
        docs=docs, postings=postings, term_stats=term_stats, stats=stats,
        k1=idx.k1, b=idx.b, n_buckets=idx.n_buckets,
        meta={**idx.meta, "compacted_deletes": len(deletes)},
        positions=positions)


# ---------------------------------------------------------------------------
# Driver keys — the end-to-end lifecycle scenario
# ---------------------------------------------------------------------------
# Fixture: update doc U (a current top hit of the query, so the v1→v2
# swap is visible in the top-k) and hard-delete doc D (the current #1),
# then query. Both keys re-derive truth in DuckDB from the RAW documents
# table: the pre-merge oracle scores over the PHYSICAL corpus (v1 ∪ v2)
# excluding deleted ids from results only; the post-merge oracle scores
# over the LIVE corpus from scratch — different df/N/avgdl, hence
# different scores, which is exactly the ES pre/post-forcemerge shift.

_LC_TEXT, _LC_K = "merge sort", 10
_LC_UPDATE, _LC_DELETE = 252, 362
_LC_SUFFIX = " updated merge sort handler"

#: the updated doc's new version under a fresh doc_id = max+1
_V2_SELECT = f"""
SELECT (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
       text || '{_LC_SUFFIX}' AS text
FROM documents WHERE doc_id = {_LC_UPDATE}"""

_PHYSICAL_CTE = f"""physical AS (
  SELECT doc_id, text FROM documents
  UNION ALL{_V2_SELECT}
)"""

_LIVE_CTE = f"""live AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id NOT IN ({_LC_UPDATE}, {_LC_DELETE})
  UNION ALL{_V2_SELECT}
)"""


def _lifecycle_view(spark: SparkSession, sf_dir: str) -> IndexView:
    """base segment → update U → delete D (a store catalog value)."""
    def make() -> IndexView:
        view = open_view(store.segment_index(spark, sf_dir))
        v1 = view.index.docs.where(
            F.col("doc_id") == _LC_UPDATE).select("content").collect()[0][0]
        view = update_doc(view, _LC_UPDATE, v1 + _LC_SUFFIX)
        return delete_doc(view, _LC_DELETE)
    return store.cached(spark, ("versioning.view", sf_dir.rstrip("/")), make)


def _lc_sql_pre_merge() -> str:
    from . import oracle_sql as osql

    return osql.bm25_topk_sql(
        _LC_TEXT, _LC_K, table="physical", pre_cte=_PHYSICAL_CTE,
        exclude_ids=(_LC_UPDATE, _LC_DELETE))


def _lc_sql_post_merge() -> str:
    from . import oracle_sql as osql

    return osql.bm25_topk_sql(_LC_TEXT, _LC_K, table="live",
                              pre_cte=_LIVE_CTE)


@_reg("doc_update_visible", _lc_sql_pre_merge())
def doc_update_visible(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index v1 → update doc 252 (new version under a fresh doc_id) →
    delete doc 362 → query. The top-k must contain the v2 doc and
    neither deleted doc, with BM25 computed under the PHYSICAL stats
    (soft-deleted docs still count in df/N/avgdl — pre-merge Lucene
    semantics, re-derived by the oracle from the raw corpus)."""
    from . import oracle_sql as osql

    view = _lifecycle_view(spark, sf_dir)
    hits = search_view(view, _LC_TEXT, k=_LC_K)
    return hits.select(
        "doc_id", F.round("score", osql.ROUND_DIGITS).alias("score"))


@_reg("merge_drops_deletes", _lc_sql_post_merge())
def merge_drops_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compact() the lifecycle view (SegmentMerger dropping soft
    deletes), then query WITHOUT any live-docs filter. The oracle scores
    the LIVE corpus from scratch — a retained deleted posting (or stale
    df/N) would shift every score and go red."""
    from . import oracle_sql as osql

    idx = store.cached(spark, ("versioning.compact", sf_dir.rstrip("/")),
                       lambda: compact(_lifecycle_view(spark, sf_dir)))
    hits = pexec.search(idx, _LC_TEXT, k=_LC_K)
    return hits.select(
        "doc_id", F.round("score", osql.ROUND_DIGITS).alias("score"))
