"""Positional (phrase) queries — SURVEY §2.4 q_phrase.

Reference: MatchPhraseQueryBuilder / [lucene dep] PhraseQuery,
ExactPhraseMatcher: terms must appear at consecutive positions (slop=0) or
within `slop` moves (sloppy). Positions are 0-based indexes into the
POST-analysis token stream (stopwords removed before position assignment —
matches how dl is counted, SURVEY §8.7).

Spark formulation: positions live in the committed segment's
positional-postings table (term, doc_id, poss array<int>, bucket) —
store.segment_index builds it with the segment and build.write_index
commits it beside docs/postings, bucket-partitioned parquet under the
segment's one term→bucket rule (crc32(term) % n_buckets, shared with
the postings), so the coordinator derives the partition-pruning
predicate in pure Python (Index.bucket; build.py POSITIONS_SCHEMA;
[lucene dep] Lucene84PostingsWriter's position stream next to the
doc/freq stream). Every field (content, title) is its own catalog
segment. A phrase [t0, t1] intersects the two terms' bucket-pruned
position rows per doc (ExactPhraseMatcher): below LOCAL_MAX_PAIR_ROWS on
the coordinator — one pyarrow read of both legs and one numpy
sorted-key intersection over the Arrow position lists, returned as a
local relation — and past it as a Spark join on doc_id with array
arithmetic over the position lists. Queries NEVER re-tokenize documents
(the r03 plan audit's one remaining scale-killer: posexplode of content
at query time was a full corpus scan + tokenize per phrase query)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import analysis, store
from .exec import local_frame, term_meta
from .registry import Entry, tbl

REGISTRY: dict[str, Entry] = {}


def _reg(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = Entry(fn=fn, sql=sql)
        return fn
    return deco


def positions_table(spark: SparkSession, sf_dir: str,
                    field: str = "content") -> DataFrame:
    """The positional-postings table (term, doc_id, poss, bucket) of one
    corpus field: the positions table of that field's committed catalog
    segment (store.segment_index), bucket-partitioned parquet so term
    lookups partition-prune to one bucket dir."""
    return store.segment_index(spark, sf_dir, field).positions


def positions(spark: SparkSession, sf_dir: str,
              field: str = "content") -> DataFrame:
    """(doc_id, pos, term) — flat view of the positional index, for
    consumers that need unrestricted positions (e.g. suggest_phrase's
    bigram LM). Scans the persisted store, not the corpus."""
    return positions_table(spark, sf_dir, field).select(
        "doc_id", F.explode("poss").alias("pos"), "term")


def _term_rows(spark: SparkSession, sf_dir: str, term: str,
               field: str) -> DataFrame:
    """One term's (term, doc)-grain position rows — bucket partition-
    pruned scan (one bucket dir) + term predicate pushdown."""
    return store.segment_index(spark, sf_dir, field).term_rows(
        "positions", [term])


def term_positions(spark: SparkSession, sf_dir: str, term: str,
                   field: str = "content") -> DataFrame:
    """(doc_id, pos) occurrences of one term."""
    return (_term_rows(spark, sf_dir, term, field)
            .select("doc_id", F.explode("poss").alias("pos")))


_POS_CTE = f"""
pos AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos, t[CAST(i AS INT)] AS term
  FROM (SELECT doc_id, {analysis.duckdb_tokens_nostop_expr('text')} AS t
        FROM documents),
       unnest(range(1, len(t) + 1)) AS u(i)
)"""


def term_doc_positions(spark: SparkSession, sf_dir: str, term: str,
                       field: str = "content") -> DataFrame:
    """(doc_id, poss) — one ARRAY row per doc for one term (the
    un-exploded sibling of term_positions)."""
    return _term_rows(spark, sf_dir, term, field).select("doc_id", "poss")


# Below this many (term, doc) rows across both phrase legs, the bucket-
# pruned position rows are read on the DRIVER (pyarrow, zero Spark jobs)
# and intersected in-process — the same ES coordinator-gather shape (and
# cap discipline) as exec.LOCAL_MAX_POSTINGS. The row count is known
# before the read: a term's positions rows are its (term, doc) rows, so
# it is the Σ df of the distinct legs from the terms dictionary
# (exec.term_meta). Hot phrases fall back to the distributed join below.
LOCAL_MAX_PAIR_ROWS = 200_000

_PAIR_SCHEMA = pa.schema([("term", pa.string()), ("doc_id", pa.int64()),
                          ("poss", pa.list_(pa.int32()))])


def _pair_count(rows, t0: str, t1: str, slop: int) -> pd.DataFrame:
    """Per-doc phrase frequency of the leg rows (term, doc_id, poss) of
    one pair — one vectorized sorted-key intersection for all docs (the
    Python mirror of the array expressions in the distributed plan).

    Each position is keyed doc_rank << 32 | pos (the rank, from
    np.unique, keeps any doc_id from overflowing); the t1 keys are sorted
    once and two searchsorted calls count the t1 positions in
    [pos+1, pos+1+slop] of every t0 position. Returns the docs with a
    match as (doc_id, n_occurrences), doc_id ascending."""
    poss = rows.column("poss")
    # list_value_length + list_flatten respect a sliced chunk's offset
    # (a chunk's .values would not)
    lens = pc.list_value_length(poss).to_numpy()
    pos = pc.list_flatten(poss).to_numpy().astype(np.int64)
    docs, rank = np.unique(rows.column("doc_id").to_numpy(), return_inverse=True)
    rank = np.repeat(rank, lens)
    key = (rank.astype(np.int64) << 32) | pos
    term = rows.column("term")
    is0, is1 = (np.repeat(pc.equal(term, t).to_numpy(zero_copy_only=False), lens)
                for t in (t0, t1))
    k0, k1 = key[is0], np.sort(key[is1])
    # positions are < 2**31: a wider band would reach the next doc's keys
    slop = min(slop, 2**31 - 1)
    n = (np.searchsorted(k1, k0 + 1 + slop, side="right")
         - np.searchsorted(k1, k0 + 1, side="left"))
    per_doc = np.bincount(rank[is0], weights=n, minlength=len(docs)).astype(np.int64)
    hit = per_doc > 0
    return pd.DataFrame({"doc_id": docs[hit],
                         "n_occurrences": per_doc[hit]})


def _pair_rows_pandas(spark: SparkSession, sf_dir: str, t0: str, t1: str):
    """Coordinator pyarrow read of the two phrase legs' pruned position
    bucket dirs of the committed content segment (Index.term_scanner) —
    ZERO Spark jobs (the phrase sibling of exec._local_blocks_pandas).
    Returns False when the pair is hot (Σ df of the distinct legs past
    LOCAL_MAX_PAIR_ROWS; the caller uses the distributed join), else the
    pyarrow Table of (term, doc_id, poss) rows, poss still an Arrow list
    column."""
    idx = store.segment_index(spark, sf_dir)
    if sum(term_meta(idx, sorted({t0, t1})).values()) > LOCAL_MAX_PAIR_ROWS:
        return False
    scanner = idx.term_scanner("positions", (t0, t1), _PAIR_SCHEMA.names)
    if scanner is None:
        return _PAIR_SCHEMA.empty_table()
    return scanner.to_table()


def _phrase_pair_join(spark: SparkSession, sf_dir: str,
                      t0: str, t1: str, slop: int) -> DataFrame:
    """Distributed fallback: the two terms' array rows join on doc_id
    (both sides bucket-pruned, the smaller broadcast by AQE); pair count
    is pure array arithmetic — no explode, no occurrence-grain shuffle."""
    a = term_doc_positions(spark, sf_dir, t0) \
        .withColumnRenamed("poss", "poss0")
    b = term_doc_positions(spark, sf_dir, t1) \
        .withColumnRenamed("poss", "poss1")
    j = a.join(b, "doc_id")
    if slop == 0:
        n = F.size(F.array_intersect(
            F.transform("poss0", lambda x: x + 1), F.col("poss1")))
    else:
        n = F.aggregate(
            "poss0", F.lit(0),
            lambda acc, x: acc + F.size(F.filter(
                "poss1",
                lambda y: (y >= x + 1) & (y <= x + 1 + slop))))
    return (j.select("doc_id", n.cast("long").alias("n_occurrences"))
            .where(F.col("n_occurrences") > 0)
            .orderBy("doc_id"))


def _phrase_pair(t0: str, t1: str, slop: int):
    """Query for a 2-term phrase with the given slop.

    slop=0 → exact adjacency (pos1 == pos0+1); slop>0 → Lucene-sloppy-ish:
    t1 within (pos0+1 .. pos0+1+slop), order preserved.

    Physical strategies (selected by the legs' Σ df from the terms
    dictionary against LOCAL_MAX_PAIR_ROWS):
      local — the driver reads both terms' (term, doc_id, poss) rows
              (bucket+term pruned) with pyarrow as one Arrow table
              (_pair_rows_pandas); one numpy kernel (_pair_count)
              intersects the position lists of all docs at once and
              returns them doc_id-ordered as a local relation
              (exec.local_frame). Zero Spark jobs.
      join  — the two terms' array rows join on doc_id (both sides
              bucket-pruned, the smaller broadcast by AQE) and the pair
              count is pure array arithmetic — ExactPhraseMatcher's
              per-doc position-list intersection with NO explode and no
              occurrence-grain shuffle. Counts match the relational pair
              join exactly: positions are distinct within a doc, so
              array_intersect(poss0+1, poss1) enumerates the adjacency
              pairs (slop=0), and the aggregate-over-filter counts
              banded pairs."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        rows = _pair_rows_pandas(spark, sf_dir, t0, t1)
        if rows is False:                      # hot pair: distributed join
            return _phrase_pair_join(spark, sf_dir, t0, t1, slop)
        # doc_id-ordered already and local_frame keeps the order: no
        # orderBy (a Spark sort of these rows runs range-partition jobs)
        return local_frame(spark, _pair_count(rows, t0, t1, slop),
                           "doc_id long, n_occurrences long")
    return run


def _phrase_pair_sql(t0: str, t1: str, slop: int) -> str:
    return f"""
WITH {_POS_CTE}
SELECT a.doc_id, count(*) AS n_occurrences
FROM pos a JOIN pos b
  ON a.doc_id = b.doc_id
 AND b.pos BETWEEN a.pos + 1 AND a.pos + 1 + {slop}
WHERE a.term = '{t0}' AND b.term = '{t1}'
GROUP BY a.doc_id ORDER BY a.doc_id"""


def _phrase_prefix(t0: str, prefix: str):
    """match_phrase_prefix (MatchPhrasePrefixQueryBuilder.java): the last
    position holds a PREFIX match over the terms dictionary — the
    search-as-you-type query. Expressed as the positional pair join with
    startswith on the trailing leg (the prefix leg spans buckets — a
    prefix does not determine the term hash — so it scans the positions
    table with the startswith pushed to parquet, like Lucene's
    terms-dict-wide prefix expansion)."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        a = term_positions(spark, sf_dir, t0).alias("a")
        b = (positions_table(spark, sf_dir)
             .where(F.col("term").startswith(prefix))
             .select("doc_id", F.explode("poss").alias("pos")).alias("b"))
        return (a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
                       & (F.col("b.pos") == F.col("a.pos") + 1))
                .groupBy(F.col("a.doc_id").alias("doc_id"))
                .agg(F.count("*").alias("n_occurrences"))
                .orderBy("doc_id"))
    return run


def _phrase_prefix_sql(t0: str, prefix: str) -> str:
    return f"""
WITH {_POS_CTE}
SELECT a.doc_id, count(*) AS n_occurrences
FROM pos a JOIN pos b
  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.term = '{t0}' AND b.term LIKE '{prefix}%'
GROUP BY a.doc_id ORDER BY a.doc_id"""


REGISTRY["q_phrase_prefix"] = Entry(
    fn=_phrase_prefix("merge", "so"),
    sql=_phrase_prefix_sql("merge", "so"))


# ---------------------------------------------------------------------------
# multi_match type=phrase — MatchPhraseQuery per field, dis_max combine
# (MultiMatchQueryBuilder Type PHRASE). Lucene scores a phrase like a term
# with tf = phrase frequency and idf = Σ idf(member term), per field with
# that field's own dl/avgdl statistics.
# ---------------------------------------------------------------------------

_MMP_FIELDS = {  # field name -> DuckDB text expression (Spark: store.py segments)
    "content": "text",
    "title": "substr(text, 1, 80)",
}
_MMP_BOOSTS = {"title": 2.0}
_MMP_TB = 0.3


def _mm_phrase(t0: str, t1: str, k: int):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import math

        from . import codec

        d = tbl(spark, sf_dir, "documents")
        k1, b = analysis.K1, analysis.B
        # n counts ALL docs (zero-token docs included) — shared by fields
        n = float(d.count())
        per_field = []
        for fname in _MMP_FIELDS:
            w = float(_MMP_BOOSTS.get(fname, 1.0))
            pt = positions_table(spark, sf_dir, fname)
            # ONE stats job per field over the (term, doc)-grain positional
            # index: sum_dl (avgdl numerator) + both member-term dfs (a
            # (term, doc) row count IS the df) — no corpus re-tokenize.
            st = pt.agg(
                F.coalesce(F.sum(F.size("poss")), F.lit(0)).alias("sum_dl"),
                F.count(F.when(F.col("term") == t0, 1)).alias("df0"),
                F.count(F.when(F.col("term") == t1, 1)).alias("df1"),
            ).collect()[0]
            avgdl = float(st["sum_dl"]) / n
            dfs = {t0: float(st["df0"]), t1: float(st["df1"])}
            if dfs[t0] == 0 or dfs[t1] == 0:
                continue  # phrase cannot match in this field
            idf_sum = sum(
                math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
                for t in (t0, t1))
            a = term_positions(spark, sf_dir, t0, field=fname).alias("a")
            bb = term_positions(spark, sf_dir, t1, field=fname).alias("b")
            ptf = (a.join(bb, (F.col("a.doc_id") == F.col("b.doc_id"))
                          & (F.col("b.pos") == F.col("a.pos") + 1))
                   .groupBy(F.col("a.doc_id").alias("doc_id"))
                   .agg(F.count("*").cast("double").alias("ptf")))
            # per-doc field length from the positional index (inner join:
            # only phrase-matching docs need dl, and those have tokens)
            dl = (pt.groupBy("doc_id")
                  .agg(F.sum(F.size("poss")).cast("long").alias("dl")))
            dlq = F.expr(codec.spark_dlq_sql("dl")).cast("double")
            scored = (ptf.join(dl, "doc_id")
                      .select("doc_id",
                              (F.lit(idf_sum * w) * F.col("ptf")
                               / (F.col("ptf") + k1 * (1.0 - b + b * dlq / avgdl))
                               ).alias("fscore")))
            per_field.append(scored)
        if not per_field:
            return local_frame(spark, [], "doc_id long, score double")
        u = per_field[0]
        for rel in per_field[1:]:
            u = u.unionByName(rel)
        agg = u.groupBy("doc_id").agg(
            F.max("fscore").alias("mx"), F.sum("fscore").alias("sm"))
        score = F.col("mx") + _MMP_TB * (F.col("sm") - F.col("mx"))
        topk = (agg.select("doc_id", score.alias("score_raw"))
                .orderBy(F.desc("score_raw"), F.asc("doc_id")).limit(k))
        return topk.select("doc_id", F.round("score_raw", 4).alias("score"))
    return run


def _mm_phrase_sql(t0: str, t1: str, k: int) -> str:
    from . import codec, oracle_sql as osql

    k1, b = analysis.K1, analysis.B
    frags, branches = [], []
    for i, (fname, fexpr) in enumerate(_MMP_FIELDS.items()):
        p = f"f{i}_"
        w = float(_MMP_BOOSTS.get(fname, 1.0))
        dlq = codec.duckdb_dlq_expr(f"{p}dl.dl")
        frags.append(f"""{osql.corpus_ctes('documents', fexpr, p)},
{p}pos AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos, t[CAST(i AS INT)] AS term
  FROM (SELECT doc_id, {analysis.duckdb_tokens_nostop_expr(fexpr)} AS t
        FROM documents),
       unnest(range(1, len(t) + 1)) AS u(i)
),
{p}df AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
  FROM {p}pos WHERE term IN ('{t0}', '{t1}') GROUP BY term
),
{p}idf AS (
  SELECT sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))) AS idf_sum,
         count(*) AS n_terms
  FROM {p}df d CROSS JOIN {p}stats s
),
{p}ptf AS (
  SELECT a.doc_id, count(*)::DOUBLE AS ptf
  FROM {p}pos a JOIN {p}pos b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = '{t0}' AND b.term = '{t1}'
  GROUP BY a.doc_id
)""")
        branches.append(f"""
  SELECT p.doc_id,
         i.idf_sum * {w} * p.ptf
           / (p.ptf + {k1} * (1 - {b} + {b} * {dlq} / s.avgdl)) AS fscore
  FROM {p}ptf p
  JOIN {p}dl ON p.doc_id = {p}dl.doc_id
  CROSS JOIN {p}stats s
  CROSS JOIN {p}idf i
  WHERE i.n_terms = 2""")
    union = "\n  UNION ALL ".join(branches)
    return f"""
WITH {",".join(frags)},
perfield AS ({union}),
agg AS (
  SELECT doc_id, max(fscore) AS mx, sum(fscore) AS sm
  FROM perfield GROUP BY doc_id),
topk AS (
  SELECT doc_id, mx + {_MMP_TB} * (sm - mx) AS score_raw FROM agg
  ORDER BY score_raw DESC, doc_id ASC LIMIT {k})
SELECT doc_id, round(score_raw, {osql.ROUND_DIGITS}) AS score FROM topk"""


REGISTRY["q_mm_phrase"] = Entry(
    fn=_mm_phrase("merge", "sort", 10),
    sql=_mm_phrase_sql("merge", "sort", 10))

REGISTRY["q_phrase"] = Entry(
    fn=_phrase_pair("merge", "sort", slop=0),
    sql=_phrase_pair_sql("merge", "sort", slop=0))

REGISTRY["q_phrase_slop2"] = Entry(
    fn=_phrase_pair("merge", "sort", slop=2),
    sql=_phrase_pair_sql("merge", "sort", slop=2))
