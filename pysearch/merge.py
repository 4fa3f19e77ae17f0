"""Segment merge — the compaction path (north_rule: "posting-list
construction, MERGE, compression").

Reference anchors (SURVEY §2.3 `segment_merge`): TieredMergePolicy picks
segments, SegmentMerger k-way-merges sorted postings with docID remap
([lucene dep] org.apache.lucene.index.SegmentMerger; ES side
server/src/main/java/org/elasticsearch/index/MergePolicyConfig.java,
index/engine/ElasticsearchConcurrentMergeScheduler.java).

Spark formulation: a TRUE merge — posting blocks are decoded and
re-encoded, documents are NOT re-tokenized. The shuffle key is
(term, salt), NEVER bare term (the r01 plan audit flagged the old
groupBy(term) as a scale killer: a Zipf-head term's entire merged posting
set landed in ONE task — exactly the skew the build path salts for).
Two paths, chosen per term:

  * FAST (salt keys stable: every input segment salted the term with the
    same n_salts as the merged index wants): encoded block rows shuffle
    by (term, salt) — ~1-2 bytes/posting on the wire — then ONE
    mapInPandas kernel per partition decodes them (the
    decode_to_posting_rows generator) straight into the build's block
    encoder (build.encode_partition_kernel), with the merged idf. Max
    task grain = one salt sub-list of one term.
  * RE-SALT (a term's df crossed the salt threshold, or segments
    disagree): blocks are decoded to posting-grain rows first
    (vectorized decode_blocks_concat) and flow through the build's
    postings writer (build.encode_postings), which salts them with the
    merged n_salts.

Invariant (tested): merge(build(A), build(B)) is BYTE-IDENTICAL to
build(A ∪ B) — same blocks, same impacts, same salting, same buckets —
because salting is a pure function of the merged df, block framing a
pure function of the sorted docID list, and the bucket a pure function
of the term.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import codec
from .build import (POSTINGS_SCHEMA, Index, Stats, bucket_col,
                    encode_partition_kernel, encode_postings, with_n_salts)


_CARRY_TYPES = {"df": "df long", "n_salts": "n_salts int", "salt": "salt int"}


def _decoded(batches, carry: tuple[str, ...]):
    """Generator: Arrow batches of encoded block rows -> posting-grain
    pandas frames (term, doc_id, tf, dl_byte [+ carry columns repeated
    per posting]). One varint pass over each batch's concatenated
    buffers (codec.decode_blocks_concat), no per-row Python."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if not len(pdf):
            continue
        counts = pdf["n_in_block"].to_numpy()
        ids, tfs, nrm = codec.decode_blocks_concat(
            pdf["first_doc_id"].to_numpy(), pdf["docid_gaps"],
            counts, pdf["tfs_enc"], pdf["norms_enc"])
        data = {
            "term": np.repeat(pdf["term"].to_numpy(), counts),
            "doc_id": ids, "tf": tfs,
            "dl_byte": nrm.astype(np.int32)}
        for c in carry:
            data[c] = np.repeat(pdf[c].to_numpy(), counts)
        yield pd.DataFrame(data)


def decode_to_posting_rows(posts: DataFrame, carry: tuple[str, ...] = ()):
    """Encoded block rows -> posting-grain rows (term, doc_id, tf,
    dl_byte [+ carry columns]). Shared by merge_indexes' re-salt path
    and versioning.compact's delete-dropping rewrite ([lucene dep]
    SegmentMerger reads postings the same way)."""
    schema = ("term string, doc_id long, tf long, dl_byte int"
              + "".join(f", {_CARRY_TYPES[c]}" for c in carry))
    return posts.mapInPandas(lambda it: _decoded(it, carry), schema=schema)


#: merged-vocab row count above which the term-dim join stops being
#: broadcast (r03 advice: the old unconditional broadcast of the full
#: merged term dim exceeds the 8 GB broadcast cap at full-vocab scale).
#: 2M rows ≈ tens of MB — comfortably broadcastable; above it Catalyst
#: picks a shuffle join co-partitioned with the (term, salt) exchange.
BROADCAST_VOCAB_MAX = 2_000_000


def merge_indexes(spark: SparkSession, indexes: list[Index], *,
                  cache: bool = True, broadcast_dims: bool | None = None,
                  broadcast_vocab_max: int = BROADCAST_VOCAB_MAX) -> Index:
    """Merge N built segments into one (doc_id spaces must be disjoint —
    guaranteed by the contractual global doc_id assignment).

    broadcast_dims: None (default) = ADAPTIVE — broadcast the merged term
    dim only while the merged vocabulary fits under broadcast_vocab_max
    rows (the count is a cheap agg over the already-persisted merged
    term_stats); True/False force either path (r02's escape hatch kept
    for tests and callers that know their vocab)."""
    assert indexes, "need at least one index"
    k1, b = indexes[0].k1, indexes[0].b
    n_buckets = indexes[0].n_buckets

    def union(frames):
        return reduce(DataFrame.unionByName, frames)

    docs = union(ix.docs for ix in indexes)
    stats = Stats(
        n_docs=sum(ix.stats.n_docs for ix in indexes),
        sum_dl=sum(ix.stats.sum_dl for ix in indexes),
    )

    term_stats = with_n_salts(
        union(ix.term_stats.select("term", "df", "cf") for ix in indexes)
        .groupBy("term").agg(F.sum("df").alias("df"), F.sum("cf").alias("cf")),
        indexes[0].meta)
    if cache:
        term_stats = term_stats.persist()

    if broadcast_dims is None:
        broadcast_dims = term_stats.count() <= broadcast_vocab_max

    # Route each term to the fast (salt-stable) or re-salt path. The
    # routing flag is derived entirely at TERM grain (per-segment
    # term_stats ⋈ merged term_stats → min over segments of
    # old_n_salts == n_salts), never via a groupBy over posting rows, and
    # reaches the postings through ONE term-keyed join. broadcast_dims
    # mirrors build_index's escape hatch (r02 advice): at vocabularies
    # beyond the broadcast cap pass False and Catalyst picks a shuffle
    # join co-partitioned with the (term, salt) encode exchange.
    seg_salts = union(
        ix.term_stats.select("term", F.col("n_salts").alias("old_n_salts"))
        for ix in indexes)
    term_dims = (
        seg_salts.join(term_stats.select("term", "df", "n_salts"), "term")
        .groupBy("term", "df", "n_salts")
        .agg(F.min((F.col("old_n_salts") == F.col("n_salts")).cast("int"))
             .alias("fast")))
    if broadcast_dims:
        term_dims = F.broadcast(term_dims)
    posts = union(ix.postings.drop("df", "bucket") for ix in indexes) \
        .join(term_dims, "term")

    # ---- fast path: encoded blocks shuffle by (term, salt), then decode
    # feeds the build's encoder inside one kernel -------------------------
    n_parts = int(posts.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    encode = encode_partition_kernel(stats.n_docs, stats.avgdl, k1, b)
    fast_posts = (
        posts.where(F.col("fast") == 1)
        .repartition(n_parts, "term", "salt")
        .sortWithinPartitions("term", "salt")
        .mapInPandas(lambda it: encode(_decoded(it, ("df", "salt"))),
                     schema=POSTINGS_SCHEMA)
        .withColumn("bucket", bucket_col(F.col("term"), n_buckets)))

    # ---- re-salt path: decode to posting grain, the build's writer -------
    slow_posts = encode_postings(
        decode_to_posting_rows(posts.where(F.col("fast") == 0),
                               carry=("df", "n_salts")),
        stats, k1, b, n_buckets)

    postings = fast_posts.unionByName(slow_posts)
    if cache:
        postings = postings.persist()

    return Index(
        docs=docs, postings=postings, term_stats=term_stats, stats=stats,
        k1=k1, b=b, n_buckets=n_buckets,
        meta={**indexes[0].meta, "merged_from": len(indexes)},
    )
