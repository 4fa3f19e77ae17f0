"""Index build pipeline: corpus DataFrame -> inverted-index segment tables.

Models the reference's bulk-index path (SURVEY §3.2) Spark-first:

  corpus ──tokenize (JVM regex codegen OR Arrow pandas UDF)──▶ tokens
    ├──▶ docs/norms   (forward index: dl, SmallFloat dl_byte, content_sha)
    ├──▶ tf           groupBy(doc_id, term)  [map-side partial agg]
    ├──▶ term_stats   groupBy(term): df, cf  +  n_salts for hot terms
    ├──▶ stats        N, sum_dl, avgdl  (1 row, broadcast as literals)
    └──▶ postings     shuffle by (term, salt) ──mapInPandas──▶
                      128-doc blocks: delta+varint docIDs, varint tfs,
                      raw norm bytes, block-max impacts
                      bucketed by crc32(term) % n_buckets

Reference anchors: TransportShardBulkAction / InternalEngine#index /
OperationRouting#shardId (routing hash ≙ our term-hash repartition);
[lucene dep] FreqProxTermsWriter (invert), Lucene84PostingsWriter (encode),
NormValuesWriter + SmallFloat (norms). See SURVEY §2.3.

Scale notes (the 100 TB plan):
  - exactly ONE wide shuffle of token-grain data (the groupBy(doc_id,term));
    term_stats join is a term-keyed shuffle of (doc,term)-grain rows that
    co-partitions with the applyInPandas grouping.
  - hot terms are salted (`df > salt_threshold` -> n_salts sub-lists keyed
    by pmod(doc_id, n_salts)) so no single task encodes a whole Zipf-head
    posting list; query-side merge is a concat (disjoint doc ranges).
  - postings and positions land partitioned by ONE bucket rule,
    bucket = crc32(term) % n_buckets (bucket_col; Index.bucket computes
    the same value on the driver): query-time term lookups prune to 1
    bucket per term (file skipping) with no Spark job to find it.
  - build_index, merge_indexes and versioning.compact write postings
    through one encoder (encode_postings) and salt through one rule
    (with_n_salts).
  - per-bucket lineage rows (docs/postings/bytes) are written with the
    segment; the build is resumable: finished tables (with _SUCCESS) skip.
"""

from __future__ import annotations

import json
import os
import time
import zlib
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import analysis, codec

DEFAULT_BUCKETS = 32
DEFAULT_SALT_THRESHOLD = 4096   # df above this -> salted
DEFAULT_N_SALTS = 8

POSTINGS_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("salt", T.IntegerType(), False),
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("df", T.LongType(), False),
    T.StructField("block_id", T.IntegerType(), False),
    T.StructField("n_in_block", T.IntegerType(), False),
    T.StructField("first_doc_id", T.LongType(), False),
    T.StructField("docid_gaps", T.BinaryType(), False),
    T.StructField("tfs_enc", T.BinaryType(), False),
    T.StructField("norms_enc", T.BinaryType(), False),
    T.StructField("block_max_tf", T.IntegerType(), False),
    T.StructField("block_max_score", T.DoubleType(), False),
])

#: positional postings — one row per (term, doc): positions of every
#: occurrence, ascending, in the same bucket as the term's postings.
POSITIONS_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("poss", T.ArrayType(T.IntegerType()), False),
    T.StructField("bucket", T.IntegerType(), False),
])


#: the segment's term -> bucket rule, recorded in manifest.json;
#: load_index refuses a segment written under any other rule.
BUCKET_RULE = "crc32(term) % n_buckets"


def bucket_col(term_col, n_buckets: int):
    """Spark column: the segment bucket of a term column (BUCKET_RULE),
    for postings and positions alike. crc32 rather than a JVM-only hash
    so the COORDINATOR computes the same bucket in pure Python
    (Index.bucket) and prunes to it without a Spark job."""
    return F.pmod(F.crc32(term_col.cast("binary")), F.lit(n_buckets)).cast("int")


def positions_frame(flat: DataFrame, n_buckets: int) -> DataFrame:
    """(doc_id, pos, term) occurrence rows -> POSITIONS_SCHEMA.

    The positional analog of the postings encode ([lucene dep]
    Lucene84PostingsWriter writes a position stream next to the doc/freq
    stream; ExactPhraseMatcher reads it — SURVEY §2.4 phrase family).
    One shuffle at occurrence grain (same grain as the tf groupBy), then
    positions are carried as a sorted array per (term, doc). The output
    is re-clustered to ONE partition per bucket, terms sorted within —
    a partitionBy("bucket") write then produces one file per bucket dir
    (not tasks×buckets small files) with term-ordered row groups, so a
    term-equality predicate skips row groups via min/max stats on top of
    the bucket partition pruning."""
    grouped = (flat.groupBy("term", "doc_id")
               .agg(F.sort_array(F.collect_list("pos")).alias("poss"))
               .withColumn("bucket", bucket_col(F.col("term"), n_buckets))
               .select("term", "doc_id", "poss", "bucket"))
    return (grouped.repartition(n_buckets, "bucket")
            .sortWithinPartitions("term", "doc_id"))


@dataclass
class Stats:
    n_docs: int
    sum_dl: int

    @property
    def avgdl(self) -> float:
        return self.sum_dl / self.n_docs if self.n_docs else 0.0


@dataclass
class Index:
    """An immutable built segment (in-memory DataFrames or parquet-backed)."""
    docs: DataFrame          # doc_id, repo, path, commit, lang, content, content_sha, dl, dl_byte
    postings: DataFrame      # POSTINGS_SCHEMA
    term_stats: DataFrame    # term, df, cf, n_salts
    stats: Stats
    k1: float = analysis.K1
    b: float = analysis.B
    n_buckets: int = DEFAULT_BUCKETS
    meta: dict = field(default_factory=dict)
    positions: DataFrame | None = None  # POSITIONS_SCHEMA (phrase family)
    disk_path: str | None = None  # committed segment dir (set by load_index)

    def bucket(self, term: str) -> int:
        """The bucket of a term in this segment's postings and positions
        — bucket_col on the driver (Spark crc32 == zlib.crc32 of the
        UTF-8 bytes)."""
        return zlib.crc32(term.encode("utf-8")) % self.n_buckets

    def term_rows(self, table: str, terms) -> DataFrame:
        """Spark-side pruned scan of the postings or positions table:
        the terms' bucket IN-list (partition pruning on a committed
        segment) and their term IN-list (row-group pruning)."""
        terms = sorted(set(terms))
        return getattr(self, table).where(
            F.col("bucket").isin(sorted({self.bucket(t) for t in terms}))
            & F.col("term").isin(terms))

    def term_scanner(self, table: str, terms, columns: list[str]):
        """Driver-side twin of term_rows on a committed segment: a pyarrow
        scanner of `columns` over the terms' bucket=N dirs, filtered to
        the terms — no Spark job. None when none of those dirs exists.
        (A scanner, not Dataset.filter: the same read measured ~0.2 ms a
        call slower through Dataset.filter.)"""
        import glob

        import pyarrow.dataset as ds

        terms = sorted(set(terms))
        files = sorted(
            f for b in sorted({self.bucket(t) for t in terms})
            for f in glob.glob(os.path.join(self.disk_path, table,
                                            f"bucket={b}", "*.parquet")))
        if not files:
            return None
        return ds.dataset(files, format="parquet").scanner(
            columns=columns, filter=ds.field("term").isin(terms))

    def unpersist(self) -> None:
        """Release the build-side caches (once the segment is committed
        and reopened, the loaded tables replace them)."""
        for df in (self.docs, self.postings, self.term_stats):
            df.unpersist()


def corpus_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's documents.parquet to the corpus shape (FIXTURES §1).

    corpus(repo, path, commit, lang, content) + doc_id + content_sha(hex).
    """
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
        F.sha1(F.col("doc_id").cast("string")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )


def with_doc_ids(corpus: DataFrame, n_parts: int | None = None) -> DataFrame:
    """Assign the contractual doc_id: 0-based dense rank over (repo,path,commit).

    (repo,path,commit) is unique, so row_number == dense rank. Scale-safe
    two-pass shape (no single-task global window — the r01 plan audit
    flagged the old Window.orderBy as a scale killer):
      1. range-partition + persist (freezes the partitioning), collect the
         tiny per-partition count map, turn it into cumulative offsets;
      2. row_number within each partition (ordered by the same key) plus
         the broadcast per-partition offset.
    Range partitions carry ascending key ranges in ascending partition-id
    order, so within-partition rank + offset IS the global dense rank.

    Cache ownership (r02 advice): the persisted range-partitioned corpus
    MUST outlive every consumer of the returned doc_ids (re-computation
    would re-sample range boundaries and could permute ids). The cached
    DataFrame is exposed as ``out._pysearch_cached``; the caller unpersists
    it once the ids are materialized downstream (cli.cmd_build does, after
    write_index commits).
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    spark = corpus.sparkSession
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    part = (corpus.repartitionByRange(n_parts, "repo", "path", "commit")
            .withColumn("_pid", F.spark_partition_id())
            .persist(StorageLevel.DISK_ONLY))
    counts = {int(r["_pid"]): int(r["cnt"])
              for r in part.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    odf = F.broadcast(spark.createDataFrame(
        sorted(offsets.items()), "_pid int, _off long"))
    w = Window.partitionBy("_pid").orderBy("repo", "path", "commit")
    out = (part.join(odf, "_pid")
           .withColumn("doc_id",
                       F.row_number().over(w).cast("long") + F.col("_off") - 1)
           .drop("_pid", "_off"))
    out._pysearch_cached = part
    return out


def tokenize(corpus: DataFrame, tokenizer: str = "native") -> DataFrame:
    """corpus -> (doc_id, tokens array<string>). Both paths vectorized."""
    if tokenizer == "native":
        toks = analysis.tokens_expr(F.col("content"))
    elif tokenizer == "pandas":
        toks = analysis.pandas_tokens_udf()(F.col("content"))
    else:
        raise ValueError(tokenizer)
    return corpus.select("doc_id", toks.alias("tokens"))


def encode_partition_kernel(n_docs: int, avgdl: float, k1: float, b: float):
    """mapInPandas kernel: posting-grain rows (doc_id, tf, dl_byte,
    term, salt, df), sorted by (term, salt) within the partition, ->
    encoded block rows (POSTINGS_SCHEMA, bucket set by encode_postings).
    Runs straddling an Arrow batch boundary are carried into the next
    batch. The one block encoder: encode_postings runs it, and so does
    merge_indexes' fast path over decoded block rows."""

    def encode_partition(batches):
        import numpy as np
        import pandas as pd

        cols = [f.name for f in POSTINGS_SCHEMA.fields]
        carry: pd.DataFrame | None = None

        def encode_run(doc_ids, tfs, dl_bytes, term, salt, df_global, out):
            idf = float(codec.bm25_idf(df_global, n_docs))
            for r in codec.encode_blocks(doc_ids, tfs, dl_bytes,
                                         idf, avgdl, k1, b):
                r["term"] = term
                r["salt"] = salt
                r["bucket"] = 0  # bucket_col fills it
                r["df"] = df_global
                out.append(r)

        def flush(pdf, last_partial):
            """Encode all complete runs of pdf; return (rows, carry)."""
            terms = pdf["term"].to_numpy()
            salts = pdf["salt"].to_numpy()
            change = np.flatnonzero((terms[1:] != terms[:-1])
                                    | (salts[1:] != salts[:-1])) + 1
            bounds = np.concatenate(([0], change, [len(pdf)]))
            stop = len(bounds) - 2 if last_partial else len(bounds) - 1
            doc_ids = pdf["doc_id"].to_numpy()
            tfs = pdf["tf"].to_numpy()
            dlb = pdf["dl_byte"].to_numpy()
            dfs = pdf["df"].to_numpy()
            out: list[dict] = []
            for i in range(stop):
                lo, hi = bounds[i], bounds[i + 1]
                encode_run(doc_ids[lo:hi], tfs[lo:hi], dlb[lo:hi],
                           terms[lo], int(salts[lo]), int(dfs[lo]), out)
            rest = pdf.iloc[bounds[stop]:].copy() if last_partial else None
            return out, rest

        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            rows, carry = flush(pdf, last_partial=True)
            if rows:
                yield pd.DataFrame(rows, columns=cols)
        if carry is not None and len(carry):
            rows, _ = flush(carry, last_partial=False)
            yield pd.DataFrame(rows, columns=cols)

    return encode_partition


def with_n_salts(term_stats: DataFrame, meta: dict) -> DataFrame:
    """term_stats (term, df, ...) + n_salts: the one salting rule. A
    term with df > meta's salt_threshold is split into meta's n_salts
    sub-lists keyed by pmod(doc_id, n_salts), so no single task encodes
    a whole Zipf-head posting list; every other term is one list."""
    return term_stats.withColumn(
        "n_salts",
        F.when(F.col("df") > meta["salt_threshold"], F.lit(meta["n_salts"]))
        .otherwise(F.lit(1)))


def encode_postings(rows: DataFrame, stats: Stats, k1: float, b: float,
                    n_buckets: int) -> DataFrame:
    """The one postings writer (build_index, merge_indexes' re-salt path,
    versioning.compact): posting-grain rows (doc_id, term, tf, df,
    dl_byte, n_salts) -> POSTINGS_SCHEMA block rows.

    Each row gets salt = pmod(doc_id, n_salts); only the kernel's columns
    cross the (term, salt) exchange (n_salts does not). Encoding is
    partition-wise, not group-wise: a sort within partitions makes each
    (term, salt) run contiguous and Arrow batches stream through ONE
    mapInPandas kernel per partition. applyInPandas would pay per-group
    Arrow/pandas overhead (~10 ms × |vocab| groups dominated the build);
    here the overhead is per batch and the per-term work is pure numpy.
    Block rows are tagged with bucket_col."""
    keyed = rows.select(
        "doc_id", "term", F.col("tf").cast("int").alias("tf"), "df",
        "dl_byte", F.pmod("doc_id", "n_salts").cast("int").alias("salt"))
    n_parts = int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (keyed.repartition(n_parts, "term", "salt")
            .sortWithinPartitions("term", "salt")
            .mapInPandas(encode_partition_kernel(stats.n_docs, stats.avgdl, k1, b),
                         schema=POSTINGS_SCHEMA)
            .withColumn("bucket", bucket_col(F.col("term"), n_buckets)))


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    *,
    n_buckets: int = DEFAULT_BUCKETS,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    n_salts: int = DEFAULT_N_SALTS,
    tokenizer: str = "native",
    k1: float = analysis.K1,
    b: float = analysis.B,
    cache: bool = True,
    broadcast_dims: bool = True,
    with_positions: bool = False,
) -> Index:
    """Build all index tables from a corpus DataFrame (not yet written out)."""
    if tokenizer == "native":
        toks_col = analysis.tokens_expr(F.col("content"))
    elif tokenizer == "pandas":
        toks_col = analysis.pandas_tokens_udf()(F.col("content"))
    else:
        raise ValueError(tokenizer)

    # ---- forward index + norms (dl counts post-stopword tokens, SURVEY §8.7)
    # Computed per-partition with NO shuffle: tokens are derived in place
    # (a corpus ⋈ tokens join here would shuffle the full content strings —
    # the most expensive possible exchange at 100 TB).
    docs = (
        corpus
        .withColumn("content_sha", F.sha2(F.col("content"), 256))
        .withColumn("dl", F.size(toks_col).cast("long"))
        .withColumn("dl_byte", F.expr(codec.spark_byte4_sql("dl")).cast("int"))
    )
    if cache:
        # serialized cache: the forward index carries full content strings;
        # deserialized row caching of it blows the heap and GC at 10^5+
        # docs (measured superlinear build collapse). local dirs are tmpfs
        # in this harness, so DISK_ONLY ≈ compact RAM cache.
        from pyspark import StorageLevel

        docs = docs.persist(StorageLevel.DISK_ONLY)
    tokens = corpus.select("doc_id", toks_col.alias("tokens"))

    # ---- global collection stats (tiny: collect to driver, broadcast as lits)
    srow = docs.agg(
        F.count("*").alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
    ).collect()[0]
    stats = Stats(n_docs=int(srow["n"]), sum_dl=int(srow["s"]))

    # ---- term frequencies: ONE wide shuffle at token grain.
    # The tf subplan has two consumers (term_stats + encode); without a
    # persist Spark recomputes the whole tokenize→explode→groupBy chain
    # (ReuseExchange does not fire across the AQE boundary — verified in
    # the physical plan). DISK_ONLY keeps the cache serialized/compact —
    # deserialized caching of 10^7 tiny rows thrashes the heap, and the
    # local harness points spark.local.dir at tmpfs anyway.
    from pyspark import StorageLevel

    tf = (
        tokens.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    if cache:
        tf = tf.persist(StorageLevel.DISK_ONLY)

    # ---- per-term global stats + salting decision
    meta = {"tokenizer": tokenizer, "salt_threshold": salt_threshold,
            "n_salts": n_salts}
    term_stats = with_n_salts(
        tf.groupBy("term").agg(F.count("*").alias("df"), F.sum("tf").alias("cf")),
        meta)
    if cache:
        term_stats = term_stats.persist()

    # ---- postings encode: term-keyed enrich + partition-wise encode UDF.
    # Both dimension sides are EXPLICITLY broadcast: left to itself,
    # Catalyst flipped the first join and broadcast the 10^7-row tf side
    # (verified in the plan). At 10^12-doc scale, where vocab/doc-count
    # outgrow a broadcast, these become shuffle-hash joins co-partitioned
    # with the encode repartition (pass broadcast_dims=False).
    dims = term_stats.select("term", "df", "n_salts")
    dl_side = docs.select("doc_id", "dl_byte")
    if broadcast_dims:
        dims, dl_side = F.broadcast(dims), F.broadcast(dl_side)
    postings = encode_postings(tf.join(dims, "term").join(dl_side, "doc_id"),
                               stats, k1, b, n_buckets)
    if cache:
        postings = postings.persist()

    # ---- positional postings (optional: phrase/span/suggest family).
    # Derived from the SAME token stream; one extra occurrence-grain
    # shuffle, bucket-partitioned for query-side partition pruning.
    pos_df = None
    if with_positions:
        pos_df = positions_frame(
            tokens.select("doc_id",
                          F.posexplode("tokens").alias("pos", "term")),
            n_buckets)

    return Index(
        docs=docs, postings=postings, term_stats=term_stats, stats=stats,
        k1=k1, b=b, n_buckets=n_buckets,
        meta=meta, positions=pos_df,
    )


# ---------------------------------------------------------------------------
# Segment persistence: write / load / resume + per-partition lineage
# ---------------------------------------------------------------------------

_TABLES = ("docs", "postings", "term_stats")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def write_index(index: Index, out_dir: str, resume: bool = True) -> dict:
    """Write segment tables + manifest. Idempotent/resumable per table:
    a table directory with _SUCCESS is skipped on re-run (translog analog:
    InternalEngine#recoverFromTranslog ≙ skip-if-committed, SURVEY §1.1).

    Returns the manifest dict (also written to <out_dir>/manifest.json),
    including per-bucket lineage metrics (north_rule requirement).
    """
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.time()
    wrote = []
    tables = _TABLES + (("positions",) if index.positions is not None else ())
    for name in tables:
        path = os.path.join(out_dir, name)
        if resume and _done(path):
            continue
        df = getattr(index, name)
        if name in ("postings", "positions"):
            df.write.mode("overwrite").partitionBy("bucket").parquet(path)
        else:
            df.write.mode("overwrite").parquet(path)
        wrote.append(name)

    # per-bucket lineage metrics from the written postings
    spark = index.postings.sparkSession
    lineage = [
        r.asDict()
        for r in (
            spark.read.parquet(os.path.join(out_dir, "postings"))
            .groupBy("bucket")
            .agg(
                F.countDistinct("term").alias("n_terms"),
                F.count("*").alias("n_blocks"),
                F.sum("n_in_block").alias("n_postings"),
                (F.sum(F.length("docid_gaps")) + F.sum(F.length("tfs_enc"))
                 + F.sum(F.length("norms_enc"))).alias("bytes"),
            )
            .orderBy("bucket")
            .collect()
        )
    ]
    manifest = {
        "seg_id": os.path.basename(out_dir.rstrip("/")),
        "n_docs": index.stats.n_docs,
        "sum_dl": index.stats.sum_dl,
        "avgdl": index.stats.avgdl,
        "k1": index.k1,
        "b": index.b,
        "n_buckets": index.n_buckets,
        "bucket_rule": BUCKET_RULE,
        "meta": index.meta,
        "tables_written": wrote,
        "build_wall_sec": round(time.time() - t0, 3),
        "lineage": lineage,
        "status": "committed",
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def load_index(spark: SparkSession, out_dir: str) -> Index:
    """Reopen a committed segment. A segment whose manifest records no
    or another bucket rule is refused: its term lookups would prune to
    the wrong bucket dirs and silently miss every hit."""
    with open(os.path.join(out_dir, "manifest.json")) as f:
        m = json.load(f)
    if m.get("bucket_rule") != BUCKET_RULE:
        raise ValueError(
            f"segment {out_dir} was written with bucket rule "
            f"{m.get('bucket_rule')!r}, not {BUCKET_RULE!r}: rebuild it")
    pos_path = os.path.join(out_dir, "positions")
    return Index(
        docs=spark.read.parquet(os.path.join(out_dir, "docs")),
        postings=spark.read.parquet(os.path.join(out_dir, "postings")),
        term_stats=spark.read.parquet(os.path.join(out_dir, "term_stats")),
        stats=Stats(n_docs=m["n_docs"], sum_dl=m["sum_dl"]),
        k1=m["k1"], b=m["b"], n_buckets=m["n_buckets"], meta=m.get("meta", {}),
        positions=(spark.read.parquet(pos_path) if _done(pos_path) else None),
        disk_path=out_dir,
    )
