"""Streaming ingest — near-real-time indexing (SURVEY §2.9).

Reference analog: ES has no stream engine; NRT visibility is the 1 s
`refresh_interval` turning the in-RAM indexing buffer into a searchable
segment (server/src/main/java/org/elasticsearch/index/engine/
InternalEngine.java → #refresh; index/IndexSettings.java).

Spark formulation: Structured Streaming `foreachBatch` — each micro-batch
IS a refresh: it runs the exact batch build pipeline (pysearch.build) and
commits an immutable segment directory seg_id=batch-N with its manifest.
Query-time visibility = load all committed segments and merge
(pysearch.merge), which is also the compaction story (a background
TieredMergePolicy analog would periodically merge_indexes + rewrite).

Checkpointing: Spark's streaming checkpoint (offset log) provides
exactly-once segment commits per micro-batch on top of the build path's
own per-table _SUCCESS resume markers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import build as pbuild
from . import merge as pmerge

CORPUS_SCHEMA = ("doc_id long, repo string, path string, commit string, "
                 "lang string, content string")


def stream_ingest(spark: SparkSession, source_dir: str, out_dir: str, *,
                  checkpoint_dir: str | None = None,
                  n_buckets: int = 8, **build_kw) -> None:
    """Watch `source_dir` for corpus parquet files; one segment per
    micro-batch. Runs with availableNow (drain-and-stop) so tests and
    backfills terminate; a live deployment drops that trigger."""
    stream = (spark.readStream.schema(CORPUS_SCHEMA).parquet(source_dir))

    def commit_segment(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        idx = pbuild.build_index(spark, batch_df, n_buckets=n_buckets,
                                 **build_kw)
        pbuild.write_index(idx, os.path.join(out_dir, f"seg-{batch_id:05d}"))

    q = (stream.writeStream.foreachBatch(commit_segment)
         .option("checkpointLocation",
                 checkpoint_dir or os.path.join(out_dir, "_checkpoint"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def load_segments(spark: SparkSession, out_dir: str) -> list[pbuild.Index]:
    segs = sorted(
        d for d in os.listdir(out_dir)
        if d.startswith("seg-")
        and os.path.exists(os.path.join(out_dir, d, "manifest.json")))
    return [pbuild.load_index(spark, os.path.join(out_dir, d)) for d in segs]


def searchable_index(spark: SparkSession, out_dir: str) -> pbuild.Index:
    """The reader view over all committed segments (refresh analog)."""
    return pmerge.merge_indexes(spark, load_segments(spark, out_dir))


# ---------------------------------------------------------------------------
# driver-contract key: streaming segments == batch truth
# ---------------------------------------------------------------------------

from .registry import Entry  # noqa: E402

REGISTRY: dict[str, Entry] = {}

_STREAM_Q = "merge"


def streaming_ingest_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end NRT story as one driver key: the corpus arrives as TWO
    parquet files consumed by maxFilesPerTrigger=1 micro-batches (each
    commits an immutable segment), the reader view merges the segments,
    and the merged index answers a BM25 top-k. Strong oracle: the same
    bm25_topk_sql the batch path uses — streaming ingest + merge must
    reproduce batch truth exactly."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from . import exec as pexec
    from . import oracle_sql as osql

    # Scratch dirs are removed in the finally (r02 advice: repeated
    # driver/bench rounds leaked /tmp copies of the corpus). The top-k
    # result is materialized BEFORE cleanup — the returned DataFrame must
    # not lazily read the deleted segment dir.
    src = tempfile.mkdtemp(prefix="ps_stream_src_")
    out = tempfile.mkdtemp(prefix="ps_stream_out_")
    try:
        corpus = pbuild.corpus_from_documents(spark, sf_dir)
        for parity in (0, 1):
            (corpus.where(F.pmod("doc_id", F.lit(2)) == parity).coalesce(1)
             .write.mode("append").parquet(src))
        stream = (spark.readStream.schema(CORPUS_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(src))

        def commit_segment(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            idx = pbuild.build_index(spark, batch_df, n_buckets=8,
                                     salt_threshold=64, n_salts=4)
            pbuild.write_index(idx, os.path.join(out, f"seg-{batch_id:05d}"))

        q = (stream.writeStream.foreachBatch(commit_segment)
             .option("checkpointLocation", os.path.join(out, "_checkpoint"))
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()

        idx = searchable_index(spark, out)
        hits = pexec.search(idx, _STREAM_Q, k=10)
        rows = (hits.select(
            "doc_id", F.round("score", osql.ROUND_DIGITS).alias("score"))
            .collect())
        return pexec.local_frame(spark, rows, "doc_id long, score double")
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def _stream_sql() -> str:
    from . import oracle_sql as osql

    return osql.bm25_topk_sql(_STREAM_Q, 10)


REGISTRY["streaming_ingest_topk"] = Entry(fn=streaming_ingest_topk,
                                          sql=_stream_sql())
