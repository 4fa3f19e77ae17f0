"""Span (proximity) queries — the positional query family beyond phrase.

Reference anchors (upstream ES tree):
  * span_near — index/query/SpanNearQueryBuilder ([lucene dep]
    SpanNearQuery): component spans within `slop` positions, optionally
    order-free (in_order=false). For two single-term spans the unordered
    match condition is |posA - posB| - 1 <= slop over distinct positions.
  * span_first — index/query/SpanFirstQueryBuilder (SpanFirstQuery):
    the span must END within the first `end` positions of the field
    (a single-term span at pos p has end p+1).
  * span_or — index/query/SpanOrQueryBuilder (SpanOrQuery): the UNION of
    the component span streams, per doc.
  * span_not — index/query/SpanNotQueryBuilder (SpanNotQuery): include
    spans that do NOT fall within `pre` positions before / `post` after
    any exclusion span.
  * intervals — index/query/IntervalQueryBuilder (r03 VERDICT missing
    item 3; [lucene dep] o.a.l.queries.intervals.Intervals): ordered /
    unordered term combination with max_gaps. For two single-term
    sources, a doc matches iff a position pair exists with
    gaps = width - 2 <= max_gaps (ordered additionally requires
    pos(t0) < pos(t1)); n_pairs counts the qualifying pairs (the doc set
    equals Lucene's minimal-interval semantics for two terms, since a
    minimal interval exists iff any qualifying pair does).

Spark formulation: reads the PERSISTED positional-postings table
(phrase.positions_table — bucket-partitioned parquet, crc32 buckets),
matched with a join whose band predicate Catalyst turns into a
doc_id-keyed join + filter. Term legs partition-prune to one bucket
dir; no query-time re-tokenize (r03 plan-audit fix).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .phrase import _POS_CTE, term_positions
from .registry import Entry

REGISTRY: dict[str, Entry] = {}

SPAN_T0, SPAN_T1, SPAN_SLOP = "merge", "sort", 3
SPAN_FIRST_TERM, SPAN_FIRST_END = "sort", 5


def _reg(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = Entry(fn=fn, sql=sql)
        return fn
    return deco


@_reg("q_span_near", f"""
WITH {_POS_CTE}
SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_spans
FROM pos a JOIN pos b
  ON a.doc_id = b.doc_id
 AND abs(a.pos - b.pos) - 1 <= {SPAN_SLOP}
 AND a.pos <> b.pos
WHERE a.term = '{SPAN_T0}' AND b.term = '{SPAN_T1}'
GROUP BY a.doc_id ORDER BY a.doc_id""")
def q_span_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """span_near(in_order=false): SPAN_T0 and SPAN_T1 within SPAN_SLOP
    positions in either order; n_spans counts the matching position
    pairs (Lucene's sloppy-freq numerator)."""
    a = term_positions(spark, sf_dir, SPAN_T0).alias("a")
    b = term_positions(spark, sf_dir, SPAN_T1).alias("b")
    cond = ((F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.abs(F.col("a.pos") - F.col("b.pos")) - 1 <= SPAN_SLOP)
            & (F.col("a.pos") != F.col("b.pos")))
    return (a.join(b, cond)
            .groupBy(F.col("a.doc_id").alias("doc_id"))
            .agg(F.count("*").alias("n_spans"))
            .orderBy("doc_id"))


@_reg("q_span_first", f"""
WITH {_POS_CTE}
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
FROM pos
WHERE term = '{SPAN_FIRST_TERM}' AND pos + 1 <= {SPAN_FIRST_END}
GROUP BY doc_id ORDER BY doc_id""")
def q_span_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """span_first: SPAN_FIRST_TERM occurrences whose span end (pos+1)
    falls within the first SPAN_FIRST_END positions of the document."""
    p = term_positions(spark, sf_dir, SPAN_FIRST_TERM)
    return (p.where(F.col("pos") + 1 <= SPAN_FIRST_END)
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_spans"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# span_or / span_not — unions and exclusions over the positional relation
# ---------------------------------------------------------------------------

SPAN_OR_T0, SPAN_OR_T1 = "merge", "sort"
SPAN_NOT_INC, SPAN_NOT_EXC, SPAN_NOT_WIN = "merge", "batch", 1


@_reg("q_span_or", f"""
WITH {_POS_CTE}
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
FROM pos WHERE term IN ('{SPAN_OR_T0}', '{SPAN_OR_T1}')
GROUP BY doc_id ORDER BY doc_id""")
def q_span_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """span_or: union of the two single-term span streams — every
    occurrence of either term counts. Both legs are bucket-pruned scans
    of the persisted positional index, unioned before one doc_id agg."""
    a = term_positions(spark, sf_dir, SPAN_OR_T0)
    b = term_positions(spark, sf_dir, SPAN_OR_T1)
    return (a.unionByName(b)
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_spans"))
            .orderBy("doc_id"))


@_reg("q_span_not", f"""
WITH {_POS_CTE}
SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_spans
FROM pos a
WHERE a.term = '{SPAN_NOT_INC}'
  AND NOT EXISTS (
    SELECT 1 FROM pos e
    WHERE e.doc_id = a.doc_id AND e.term = '{SPAN_NOT_EXC}'
      AND abs(e.pos - a.pos) <= {SPAN_NOT_WIN})
GROUP BY a.doc_id ORDER BY a.doc_id""")
def q_span_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """span_not(pre=post=SPAN_NOT_WIN): include-term occurrences with NO
    exclusion-term occurrence within the window — a left_anti band join
    of two bucket-pruned position streams (Lucene's SpanNotQuery skips
    include spans overlapping the [pre, post]-widened exclusion span)."""
    a = term_positions(spark, sf_dir, SPAN_NOT_INC).alias("a")
    e = term_positions(spark, sf_dir, SPAN_NOT_EXC).alias("e")
    cond = ((F.col("a.doc_id") == F.col("e.doc_id"))
            & (F.abs(F.col("e.pos") - F.col("a.pos")) <= SPAN_NOT_WIN))
    return (a.join(e, cond, "left_anti")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_spans"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# intervals query — ordered / unordered with max_gaps
# ---------------------------------------------------------------------------

IV_T0, IV_T1, IV_MAX_GAPS = "value", "merge", 4


@_reg("q_intervals_ordered", f"""
WITH {_POS_CTE}
SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_pairs
FROM pos a JOIN pos b
  ON a.doc_id = b.doc_id
 AND b.pos > a.pos
 AND b.pos - a.pos - 1 <= {IV_MAX_GAPS}
WHERE a.term = '{IV_T0}' AND b.term = '{IV_T1}'
GROUP BY a.doc_id ORDER BY a.doc_id""")
def q_intervals_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intervals match=ordered, max_gaps=IV_MAX_GAPS (Intervals.ordered
    via IntervalQueryBuilder): IV_T0 strictly before IV_T1 with at most
    max_gaps positions between them."""
    a = term_positions(spark, sf_dir, IV_T0).alias("a")
    b = term_positions(spark, sf_dir, IV_T1).alias("b")
    cond = ((F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") > F.col("a.pos"))
            & (F.col("b.pos") - F.col("a.pos") - 1 <= IV_MAX_GAPS))
    return (a.join(b, cond)
            .groupBy(F.col("a.doc_id").alias("doc_id"))
            .agg(F.count("*").alias("n_pairs"))
            .orderBy("doc_id"))


@_reg("q_intervals_unordered", f"""
WITH {_POS_CTE}
SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_pairs
FROM pos a JOIN pos b
  ON a.doc_id = b.doc_id
 AND a.pos <> b.pos
 AND abs(b.pos - a.pos) - 1 <= {IV_MAX_GAPS}
WHERE a.term = '{IV_T0}' AND b.term = '{IV_T1}'
GROUP BY a.doc_id ORDER BY a.doc_id""")
def q_intervals_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intervals match=unordered, max_gaps=IV_MAX_GAPS: either order,
    interval width minus the two terms <= max_gaps."""
    a = term_positions(spark, sf_dir, IV_T0).alias("a")
    b = term_positions(spark, sf_dir, IV_T1).alias("b")
    cond = ((F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.pos") != F.col("b.pos"))
            & (F.abs(F.col("b.pos") - F.col("a.pos")) - 1 <= IV_MAX_GAPS))
    return (a.join(b, cond)
            .groupBy(F.col("a.doc_id").alias("doc_id"))
            .agg(F.count("*").alias("n_pairs"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# span_containing / span_within — compound-span relations
# ---------------------------------------------------------------------------

#: big = ordered (SC_T0 .. SC_T1) span with end-start <= SC_WIN;
#: little = single-term span of SC_T2
SC_T0, SC_T1, SC_T2, SC_WIN = "value", "sort", "merge", 8

_BIG_CTE = f"""
big AS (
  SELECT a.doc_id, a.pos AS s, b.pos AS e
  FROM pos a JOIN pos b
    ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos - a.pos <= {SC_WIN}
  WHERE a.term = '{SC_T0}' AND b.term = '{SC_T1}')"""


def _big_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s, e) — ordered (SC_T0 .. SC_T1) spans, width-bounded,
    both legs bucket-pruned scans of the persisted positional index."""
    a = term_positions(spark, sf_dir, SC_T0).alias("a")
    b = term_positions(spark, sf_dir, SC_T1).alias("b")
    return (a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
                   & (F.col("b.pos") > F.col("a.pos"))
                   & (F.col("b.pos") - F.col("a.pos") <= SC_WIN))
            .select(F.col("a.doc_id").alias("doc_id"),
                    F.col("a.pos").alias("s"), F.col("b.pos").alias("e")))


@_reg("q_span_containing", f"""
WITH {_POS_CTE},{_BIG_CTE}
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
FROM big g
WHERE EXISTS (SELECT 1 FROM pos c
              WHERE c.doc_id = g.doc_id AND c.term = '{SC_T2}'
                AND c.pos BETWEEN g.s AND g.e)
GROUP BY doc_id ORDER BY doc_id""")
def q_span_containing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """span_containing (index/query/SpanContainingQueryBuilder.java,
    [lucene dep] SpanContainingQuery): BIG spans — ordered (SC_T0..SC_T1)
    within SC_WIN — that contain at least one LITTLE span (an SC_T2
    occurrence). A left_semi band join of the big-span relation against
    the little term's bucket-pruned positions."""
    big = _big_spans(spark, sf_dir).alias("g")
    c = term_positions(spark, sf_dir, SC_T2).alias("c")
    cond = ((F.col("g.doc_id") == F.col("c.doc_id"))
            & (F.col("c.pos") >= F.col("g.s"))
            & (F.col("c.pos") <= F.col("g.e")))
    return (big.join(c, cond, "left_semi")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_spans"))
            .orderBy("doc_id"))


@_reg("q_span_within", f"""
WITH {_POS_CTE},{_BIG_CTE}
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
FROM (SELECT DISTINCT c.doc_id, c.pos FROM pos c JOIN big g
        ON c.doc_id = g.doc_id AND c.pos BETWEEN g.s AND g.e
      WHERE c.term = '{SC_T2}') w
GROUP BY doc_id ORDER BY doc_id""")
def q_span_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """span_within (index/query/SpanWithinQueryBuilder.java,
    SpanWithinQuery): the mirror — LITTLE spans (SC_T2 occurrences) that
    fall inside at least one big span; each little position counts once
    (semi-join against the big-span relation)."""
    big = _big_spans(spark, sf_dir).alias("g")
    c = term_positions(spark, sf_dir, SC_T2).alias("c")
    cond = ((F.col("c.doc_id") == F.col("g.doc_id"))
            & (F.col("c.pos") >= F.col("g.s"))
            & (F.col("c.pos") <= F.col("g.e")))
    return (c.join(big, cond, "left_semi")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_spans"))
            .orderBy("doc_id"))
