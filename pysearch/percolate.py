"""Percolate — reverse search: match documents against STORED queries.

Reference anchor: the upstream percolator module
(modules/percolator/src/main/java/org/elasticsearch/percolator/
PercolateQueryBuilder.java): queries are indexed as documents (their
terms are extracted into a `query.extraction_result` terms field), and
percolating a doc runs a term-at-a-time candidate match against the
stored-query index, then verifies minimum_should_match.

Spark formulation: the stored-query table is tiny relative to the doc
stream (thousands of alert rules vs billions of docs), so it is a
BROADCAST dim: explode docs to distinct (doc_id, term), broadcast-join
the exploded (query_id, term, msm) rules, then one doc_id+query_id
groupBy verifies msm. One shuffle keyed (doc_id, query_id) whose input
was already term-filtered map-side — no per-query scan, no driver loop,
scales linearly in matched pairs at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import analysis
from .exec import local_frame
from .registry import Entry, tbl

REGISTRY: dict[str, Entry] = {}

# stored queries: (query_id, space-separated terms, minimum_should_match)
PERC_QUERIES = [
    (1, "merge sort", 2),          # both terms required (AND)
    (2, "hash partition", 1),      # either term (OR)
    (3, "query plan cost", 2),     # 2 of 3
]


def _reg(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = Entry(fn=fn, sql=sql)
        return fn
    return deco


def _perc_sql() -> str:
    rows = []
    for qid, text, msm in PERC_QUERIES:
        for t in sorted(set(analysis.analyze(text))):
            rows.append(f"({qid}, '{t}', {msm})")
    values = ", ".join(rows)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({analysis.duckdb_tokens_nostop_expr('text')}) AS term
  FROM documents),
dterms AS (SELECT DISTINCT doc_id, term FROM tok),
rules(query_id, term, msm) AS (VALUES {values}),
matched AS (
  SELECT d.doc_id, r.query_id, r.msm, count(*) AS n_matched
  FROM dterms d JOIN rules r ON d.term = r.term
  GROUP BY d.doc_id, r.query_id, r.msm)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       CAST(n_matched AS BIGINT) AS n_matched
FROM matched WHERE n_matched >= msm
ORDER BY query_id, doc_id"""


@_reg("q_percolate", _perc_sql())
def q_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolate the documents table against PERC_QUERIES; a (query_id,
    doc_id) pair matches when the doc contains >= msm of the query's
    distinct terms."""
    d = tbl(spark, sf_dir, "documents")
    dterms = (d.select("doc_id",
                       F.explode(analysis.tokens_expr(F.col("text")))
                       .alias("term"))
              .distinct())
    rule_rows = [(qid, t, msm) for qid, text, msm in PERC_QUERIES
                 for t in sorted(set(analysis.analyze(text)))]
    rules = local_frame(spark, 
        rule_rows, "query_id long, term string, msm int")
    matched = (dterms.join(F.broadcast(rules), "term")
               .groupBy("doc_id", "query_id", "msm")
               .agg(F.count("*").alias("n_matched")))
    return (matched.where(F.col("n_matched") >= F.col("msm"))
            .select("query_id", "doc_id",
                    F.col("n_matched").cast("long").alias("n_matched"))
            .orderBy("query_id", "doc_id"))
