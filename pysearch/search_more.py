"""Search-surface extensions, wave 2 — the remaining high-frequency ES
query/API types: script_score, pinned, distance_feature,
match_bool_prefix, span_multi, terms-lookup, fuzzy completion,
filtered kNN, and the rank-evaluation API.

Reference anchors (upstream ES tree; checkout empty, grep-able paths):
  * script_score — index/query/ScriptScoreQueryBuilder.java: replace the
    query score with an arbitrary expression over _score and doc fields.
    Spark: the scoring expression is a Catalyst column over the
    BM25-summed relation joined to the forward index — whole-stage
    codegen, no script engine needed.
  * pinned — x-pack searchbusinessrules PinnedQueryBuilder: promoted ids
    rank first in the given order, organic matches follow. Lucene gives
    pins a score floor above any organic score; the relational mirror is
    a constant score ladder unioned with the organic top-k (pins
    excluded from the organic leg, as ES dedups).
  * distance_feature — index/query/DistanceFeatureQueryBuilder.java:
    score = boost · pivot / (pivot + |field − origin|) over a date
    field. Pure map-side arithmetic + TakeOrderedAndProject.
  * match_bool_prefix — index/query/MatchBoolPrefixQueryBuilder.java:
    bool SHOULD of term queries for all but the last token plus a
    constant-score prefix query for the last (search-as-you-type over
    full words + partial final word).
  * span_multi — index/query/SpanMultiTermQueryBuilder.java: wrap a
    multi-term query (prefix) as a span source, combined here with a
    span_near against a literal term over the persisted positional
    index. The prefix leg is a LIKE scan of the positions store (spans
    hash buckets, like q_phrase_prefix's trailing leg); the literal leg
    is bucket-pruned.
  * terms lookup — index/query/TermsQueryBuilder.java (lookup variant):
    the terms list is fetched from another document's field at query
    time, then applied as a terms filter. Spark: a broadcast semi-join
    against the 1-doc lookup relation — the fetch ES does from the
    coordinator becomes a tiny build side.
  * fuzzy completion — search/suggest/completion/CompletionSuggester
    (FuzzyOptions): prefix matching tolerating edit distance on the
    typed prefix ([lucene dep] fuzzy FST intersection); relationally a
    levenshtein predicate on the terms-dictionary prefix, still
    vocab-grain.
  * filtered kNN — search.vectors KnnSearchBuilder#filter: top-k cosine
    restricted to docs passing a filter; the filter prunes BEFORE
    distance work in both engines.
  * rank_eval — rest RankEvalRequest / index.rankeval.* : run a query,
    join rated relevance judgments, emit precision@k and reciprocal
    rank. Metrics reduce over the top-k relation only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import analysis
from . import oracle_sql as osql
from .exec import local_frame
from .phrase import _POS_CTE
from .registry import Entry, tbl

REGISTRY: dict[str, Entry] = {}


def _reg(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = Entry(fn=fn, sql=sql)
        return fn
    return deco


def _idx(spark: SparkSession, sf_dir: str):
    import __spark_entry__ as em

    return em._index_for(spark, sf_dir)


def _bm25_agg(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """(doc_id, bm25) summed clause scores — the organic substrate."""
    from . import exec as pexec

    idx = _idx(spark, sf_dir)
    terms = sorted(set(analysis.analyze(text)))
    return (pexec._per_term_scored(idx, terms)
            .groupBy("doc_id").agg(F.sum("score").alias("bm25")))


# ---------------------------------------------------------------------------
# script_score
# ---------------------------------------------------------------------------

SS_TEXT, SS_K = "merge sort", 10


def _script_score_sql() -> str:
    frag, _ = osql._scored_ctes(SS_TEXT)
    return f"""
WITH {frag},
base AS (SELECT doc_id, sum(contrib) AS bm25 FROM scored GROUP BY doc_id),
sc AS (
  SELECT b.doc_id, 0.5 * b.bm25 + sqrt(d.n_chars) / 100.0 AS score_raw
  FROM base b JOIN documents d USING (doc_id)),
topk AS (
  SELECT doc_id, score_raw FROM sc
  ORDER BY score_raw DESC, doc_id ASC LIMIT {SS_K})
SELECT doc_id, round(score_raw, 4) AS score FROM topk"""


@_reg("q_script_score", None)  # sql attached below (built from shared CTEs)
def q_script_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """script_score (ScriptScoreQueryBuilder): the query's BM25 _score
    fed through a user expression — here 0.5·_score + √n_chars/100 —
    before top-k. The 'script' is a Catalyst expression over the scored
    relation joined to the doc-values column, so it stays inside
    whole-stage codegen (ES compiles Painless; both evaluate per
    candidate, never per corpus row)."""
    base = _bm25_agg(spark, sf_dir, SS_TEXT)
    d = tbl(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sc = base.join(d, "doc_id").select(
        "doc_id",
        (0.5 * F.col("bm25") + F.sqrt(F.col("n_chars")) / 100.0)
        .alias("score_raw"))
    topk = sc.orderBy(F.desc("score_raw"), F.asc("doc_id")).limit(SS_K)
    return topk.select("doc_id", F.round("score_raw", 4).alias("score"))


REGISTRY["q_script_score"] = Entry(fn=q_script_score, sql=_script_score_sql())


# ---------------------------------------------------------------------------
# pinned
# ---------------------------------------------------------------------------

PIN_IDS, PIN_TEXT, PIN_K = [11, 3, 7], "merge sort", 10
_PIN_FLOOR = 1000000.0


def _pinned_sql() -> str:
    frag, _ = osql._scored_ctes(PIN_TEXT)
    pin_rows = ", ".join(
        f"({doc_id}, {_PIN_FLOOR - i}::DOUBLE)"
        for i, doc_id in enumerate(PIN_IDS))
    pin_list = ", ".join(str(i) for i in PIN_IDS)
    return f"""
WITH {frag},
organic AS (
  SELECT doc_id, sum(contrib) AS score_raw FROM scored
  WHERE doc_id NOT IN ({pin_list}) GROUP BY doc_id),
pins AS (
  SELECT p.doc_id, p.score_raw
  FROM (VALUES {pin_rows}) AS p(doc_id, score_raw)
  JOIN documents d ON d.doc_id = p.doc_id),
unioned AS (SELECT * FROM pins UNION ALL SELECT * FROM organic),
topk AS (
  SELECT doc_id, score_raw FROM unioned
  ORDER BY score_raw DESC, doc_id ASC LIMIT {PIN_K})
SELECT doc_id, round(score_raw, 4) AS score FROM topk"""


@_reg("q_pinned", None)
def q_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pinned query (x-pack PinnedQueryBuilder): ids {PIN_IDS} are
    promoted above every organic hit, in the given order (a descending
    constant-score ladder starting above any attainable BM25 score);
    the organic leg is the usual BM25 relation with the pins excluded
    (ES dedups a pinned doc out of the organic hits). The pin leg is a
    3-row broadcast existence join — no extra shuffle."""
    pins_local = [(doc_id, _PIN_FLOOR - i) for i, doc_id in enumerate(PIN_IDS)]
    pins = local_frame(spark, pins_local, "doc_id long, score_raw double")
    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    # existence check: pins are the broadcast build side of an inner join
    # (a left-semi with pins on the left can't broadcast the small side)
    pins = docs.join(F.broadcast(pins), "doc_id").select("doc_id", "score_raw")
    organic = (_bm25_agg(spark, sf_dir, PIN_TEXT)
               .where(~F.col("doc_id").isin(PIN_IDS))
               .select("doc_id", F.col("bm25").alias("score_raw")))
    topk = (pins.unionByName(organic)
            .orderBy(F.desc("score_raw"), F.asc("doc_id")).limit(PIN_K))
    return topk.select("doc_id", F.round("score_raw", 4).alias("score"))


REGISTRY["q_pinned"] = Entry(fn=q_pinned, sql=_pinned_sql())


# ---------------------------------------------------------------------------
# distance_feature (date field)
# ---------------------------------------------------------------------------

DF_ORIGIN, DF_PIVOT_S, DF_BOOST, DF_K = "2024-01-15 00:00:00", 604800.0, 3.0, 10


@_reg("q_distance_feature", f"""
SELECT event_id,
       round({DF_BOOST} * {DF_PIVOT_S}
             / ({DF_PIVOT_S}
                + abs(date_diff('second', TIMESTAMP '{DF_ORIGIN}', ts))), 6)
         AS score
FROM events
ORDER BY score DESC, event_id ASC LIMIT {DF_K}""")
def q_distance_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distance_feature on a date field (DistanceFeatureQueryBuilder):
    score = boost · pivot / (pivot + |ts − origin|). Timestamp distance
    is a DIFFERENCE, so both engines are timezone-invariant. Map-side
    arithmetic + TakeOrderedAndProject — the same shape ES gets from
    LongPoint.newDistanceFeatureQuery's skip-aware iterator."""
    ev = tbl(spark, sf_dir, "events")
    dist = F.abs(F.unix_timestamp("ts")
                 - F.unix_timestamp(F.lit(DF_ORIGIN)))
    score = DF_BOOST * DF_PIVOT_S / (DF_PIVOT_S + dist)
    return (ev.select("event_id", F.round(score, 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("event_id")).limit(DF_K))


# ---------------------------------------------------------------------------
# match_bool_prefix
# ---------------------------------------------------------------------------

MBP_TERM, MBP_PREFIX, MBP_K = "merge", "so", 10


def _mbp_sql() -> str:
    frag, _ = osql._scored_ctes(MBP_TERM)
    return f"""
WITH {frag},
exp AS (
  SELECT DISTINCT term FROM tok2 WHERE term LIKE '{MBP_PREFIX}%'
  ORDER BY term ASC LIMIT 128),
pfx AS (
  SELECT DISTINCT t.doc_id, 1.0::DOUBLE AS s
  FROM tok2 t JOIN exp USING (term)),
legs AS (
  SELECT doc_id, contrib AS s FROM scored
  UNION ALL SELECT doc_id, s FROM pfx),
agg AS (SELECT doc_id, sum(s) AS score_raw FROM legs GROUP BY doc_id),
topk AS (
  SELECT doc_id, score_raw FROM agg
  ORDER BY score_raw DESC, doc_id ASC LIMIT {MBP_K})
SELECT doc_id, round(score_raw, 4) AS score FROM topk"""


@_reg("q_match_bool_prefix", None)
def q_match_bool_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_bool_prefix (MatchBoolPrefixQueryBuilder): 'merge so' →
    bool SHOULD [term(merge), prefix(so)] — full words score BM25, the
    trailing partial word scores constant 1.0 through the multi-term
    CONSTANT_SCORE_REWRITE (exec.search_prefix: vocab-grain expansion,
    docID-gap-only decode). Union + one groupBy on doc_id."""
    from . import exec as pexec

    idx = _idx(spark, sf_dir)
    term_leg = (pexec._per_term_scored(idx, [MBP_TERM])
                .select("doc_id", F.col("score").alias("s")))
    pfx_leg = (pexec.search_prefix(idx, MBP_PREFIX)
               .select("doc_id", F.col("score").alias("s")))
    agg = (term_leg.unionByName(pfx_leg)
           .groupBy("doc_id").agg(F.sum("s").alias("score_raw")))
    topk = agg.orderBy(F.desc("score_raw"), F.asc("doc_id")).limit(MBP_K)
    return topk.select("doc_id", F.round("score_raw", 4).alias("score"))


REGISTRY["q_match_bool_prefix"] = Entry(fn=q_match_bool_prefix,
                                        sql=_mbp_sql())


# ---------------------------------------------------------------------------
# span_multi (prefix span within a span_near)
# ---------------------------------------------------------------------------

SM_PREFIX, SM_TERM, SM_WIN = "sor", "merge", 8


@_reg("q_span_multi", f"""
WITH {_POS_CTE}
SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_pairs
FROM pos a JOIN pos b
  ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos - a.pos <= {SM_WIN}
WHERE a.term LIKE '{SM_PREFIX}%' AND b.term = '{SM_TERM}'
GROUP BY a.doc_id ORDER BY a.doc_id""")
def q_span_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """span_multi (SpanMultiTermQueryBuilder) inside a span_near: spans
    of ANY term with prefix '{SM_PREFIX}' followed by '{SM_TERM}' within
    {SM_WIN} positions. The prefix leg scans the persisted positions
    store with a term-LIKE predicate (crosses hash buckets — same
    honest shape as q_phrase_prefix's trailing leg); the literal leg is
    bucket-pruned. Banded pair join, never a position cross-product."""
    from . import phrase

    pos = phrase.positions_table(spark, sf_dir)
    a = (pos.where(F.col("term").startswith(SM_PREFIX))
         .select("doc_id", F.explode("poss").alias("pos")).alias("a"))
    b = phrase.term_positions(spark, sf_dir, SM_TERM).alias("b")
    return (a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
                   & (F.col("b.pos") > F.col("a.pos"))
                   & (F.col("b.pos") - F.col("a.pos") <= SM_WIN))
            .groupBy(F.col("a.doc_id").alias("doc_id"))
            .agg(F.count("*").alias("n_pairs"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# terms lookup
# ---------------------------------------------------------------------------

TL_USER = 1


@_reg("f_terms_lookup", f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
FROM events
WHERE event_type IN (SELECT DISTINCT event_type FROM events
                     WHERE user_id = {TL_USER})
GROUP BY event_type ORDER BY event_type""")
def f_terms_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terms lookup (TermsQueryBuilder with a lookup clause): the terms
    list is read from another document — here user {TL_USER}'s observed
    event_types — then applied as a terms filter. The lookup leg is a
    few-row relation broadcast as the build side of a semi-join (ES
    fetches the doc on the coordinator and inlines the list; same
    asymmetry)."""
    ev = tbl(spark, sf_dir, "events")
    lookup = (ev.where(F.col("user_id") == TL_USER)
              .select("event_type").distinct())
    return (ev.join(F.broadcast(lookup), "event_type", "left_semi")
            .groupBy("event_type").agg(F.count("*").alias("cnt"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# fuzzy completion suggester
# ---------------------------------------------------------------------------

FZ_TYPED, FZ_N = "sro", 5  # transposition typo for 'sor...'
FZ_PLEN = len(FZ_TYPED)


@_reg("suggest_completion_fuzzy", f"""
WITH tok AS (
  SELECT unnest({analysis.duckdb_tokens_nostop_expr('text')}) AS term
  FROM documents),
w AS (
  SELECT term, count(*) AS weight FROM tok
  WHERE levenshtein(substr(term, 1, {FZ_PLEN}), '{FZ_TYPED}') <= 1
  GROUP BY term)
SELECT term, CAST(weight AS BIGINT) AS weight FROM w
ORDER BY weight DESC, term ASC LIMIT {FZ_N}""")
def suggest_completion_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuzzy completion (CompletionSuggester + FuzzyOptions): tolerate
    one edit in the typed prefix '{FZ_TYPED}' — Lucene intersects a
    Levenshtein automaton with the suggest FST; relationally a
    levenshtein predicate on the first {FZ_PLEN} chars of each
    dictionary term, still a vocab-grain term_stats scan (weight = cf),
    never postings."""
    idx = _idx(spark, sf_dir)
    pfx = F.substring("term", 1, FZ_PLEN)
    return (idx.term_stats
            .where(F.levenshtein(pfx, F.lit(FZ_TYPED)) <= 1)
            .select("term", F.col("cf").cast("long").alias("weight"))
            .orderBy(F.desc("weight"), F.asc("term")).limit(FZ_N))


# ---------------------------------------------------------------------------
# filtered kNN
# ---------------------------------------------------------------------------

KNN_QVEC, KNN_LABEL, KNN_K = 0, 1, 10


@_reg("q_knn_filtered", f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
           WHERE vec_id = {KNN_QVEC})
SELECT vec_id, round(raw_cos, 6) AS cos FROM (
  SELECT vec_id,
         list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv) AS raw_cos
  FROM embeddings, q
  WHERE vec_id != {KNN_QVEC} AND label = {KNN_LABEL})
ORDER BY raw_cos DESC, vec_id ASC LIMIT {KNN_K}""")
def q_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filtered kNN (KnnSearchBuilder#filter): cosine top-k restricted to
    vectors whose label matches the filter — the filter prunes BEFORE
    any distance arithmetic (ES applies it during HNSW traversal so the
    visited set stays on-filter; here Catalyst pushes the label
    predicate to the scan). Distance via the JVM-side HOF cosine, then
    TakeOrderedAndProject."""
    from .dedup import cosine_expr
    from .similarity import _query_vec

    qv = _query_vec(spark, sf_dir)
    emb = tbl(spark, sf_dir, "embeddings").where(
        (F.col("vec_id") != KNN_QVEC) & (F.col("label") == KNN_LABEL))
    qlit = F.array(*[F.lit(float(v)) for v in qv])
    scored = emb.select(
        "vec_id", cosine_expr(F.col("embedding"), qlit).alias("raw_cos"))
    topk = scored.orderBy(F.desc("raw_cos"), F.asc("vec_id")).limit(KNN_K)
    return topk.select("vec_id", F.round("raw_cos", 6).alias("cos"))


# ---------------------------------------------------------------------------
# rank_eval
# ---------------------------------------------------------------------------

RE_TEXT, RE_K = "merge sort", 10
RE_RATED = [2, 3, 5, 7, 11, 13, 17, 19, 23, 29]


def _rank_eval_sql() -> str:
    frag, _ = osql._scored_ctes(RE_TEXT)
    rated = ", ".join(str(i) for i in RE_RATED)
    return f"""
WITH {frag},
agg AS (SELECT doc_id, sum(contrib) AS s FROM scored GROUP BY doc_id),
topk AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rnk
  FROM agg ORDER BY s DESC, doc_id ASC LIMIT {RE_K})
SELECT round(count(*) FILTER (WHERE rnk <= 5 AND doc_id IN ({rated}))
             / 5.0, 6) AS precision_at_5,
       round(coalesce(1.0 / min(CASE WHEN doc_id IN ({rated})
                                     THEN rnk END), 0.0), 6)
         AS reciprocal_rank
FROM topk"""


@_reg("rank_eval", None)
def rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_rank_eval API (index/rankeval/RankEvalRequest + PrecisionAtK,
    MeanReciprocalRank): run the query, join the rated-document
    judgments, emit precision@5 and reciprocal rank. The metric reduce
    touches only the k-row top-k relation — judgments are a tiny
    broadcast list, exactly ES's coordinator-side evaluation."""
    from pyspark.sql import Window

    agg = _bm25_agg(spark, sf_dir, RE_TEXT)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    topk = (agg.select("doc_id", F.row_number().over(w).alias("rnk"))
            .where(F.col("rnk") <= RE_K))
    is_rated = F.col("doc_id").isin(RE_RATED)
    return topk.agg(
        F.round(F.count(F.when((F.col("rnk") <= 5) & is_rated, 1)) / 5.0, 6)
        .alias("precision_at_5"),
        F.round(F.coalesce(
            1.0 / F.min(F.when(is_rated, F.col("rnk"))), F.lit(0.0)), 6)
        .alias("reciprocal_rank"))


REGISTRY["rank_eval"] = Entry(fn=rank_eval, sql=_rank_eval_sql())
