"""Search-API frontends, wave 3 — RRF retriever fusion, search
templates, the wrapper query, field_caps, the x-pack SQL endpoint's
MATCH()/GROUP BY surface, significant_text, and combined_fields.

Reference anchors (upstream ES tree; checkout empty, grep-able paths):
  * RRF retriever — x-pack/plugin/rank-rrf `RRFRankDoc.java` /
    `RRFRetrieverBuilder.java`: reciprocal-rank fusion of N retriever
    legs, score = Σ_legs 1/(rank_constant + rank_leg); docs missing
    from a leg contribute nothing for that leg.
  * search template — `script/mustache` TemplateQueryBuilder /
    MustacheScriptEngine: {{param}} substitution into a query source,
    then normal parse+execute.
  * wrapper query — index/query/WrapperQueryBuilder.java: a
    base64-encoded JSON query parsed at rewrite time.
  * field_caps — action/fieldcaps/FieldCapabilitiesRequest.java: field →
    ES type across indices (schema introspection, no data scan).
  * x-pack SQL — x-pack/plugin/sql: `MATCH()` predicate + `SCORE()`
    projection (`MatchQueryPredicate.java`, `Score.java`) and the
    SELECT/GROUP BY/ORDER BY/LIMIT relational core translated onto the
    search engine. Here the mini-parser drives DataFrame ops — the same
    role SQL's QueryTranslator plays onto the ES DSL.
  * significant_text — bucket/terms/SignificantTextAggregationBuilder:
    significant-terms scoring (JLH heuristic,
    `heuristic/JLHScore.java`: (fg% − bg%)·(fg%/bg%)) over ANALYZED
    text of the foreground hits, deduplicated per document.
  * combined_fields — index/query/CombinedFieldsQueryBuilder.java
    ([lucene dep] CombinedFieldQuery, BM25F-ish): term-centric scoring
    over multiple weighted fields as ONE synthetic field — tf' =
    Σ_f w_f·tf_f, dl' = Σ_f w_f·dl_f, one idf from the combined df.
    (Documented divergence: we keep exact dl', no SmallFloat norm
    quantization of the synthetic field — both engines use the same
    formula, stated in SURVEY §8.)

Spark shapes at 10^12 rows: RRF fuses two ALREADY-top-k relations
(k-row inputs, coordinator-side arithmetic); significant_text and
combined_fields read the PERSISTED (term, doc)-grain positional store —
bucket-pruned for the query/foreground legs, full (term,doc) scans only
for corpus statistics; field_caps reads parquet footers only; the SQL
frontend emits ordinary Catalyst plans (hash aggregate + top-k).
"""

from __future__ import annotations

import base64
import json
import re

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import analysis, store
from . import oracle_sql as osql
from .exec import local_frame
from .phrase import _POS_CTE, positions_table, term_doc_positions
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


# ---------------------------------------------------------------------------
# retriever_rrf — reciprocal rank fusion of a BM25 leg and a kNN leg
# ---------------------------------------------------------------------------

_RRF_TEXT, _RRF_K, _RRF_WINDOW, _RRF_C = "merge sort", 10, 20, 60
_RRF_QVEC = 0  # similarity.QUERY_VEC_ID; vec_id ≡ doc_id (1:1 tables)


def _rrf_sql() -> str:
    bm25 = osql.bm25_topk_sql(_RRF_TEXT, _RRF_WINDOW)
    return f"""
WITH bm25 AS ({bm25}),
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
  FROM bm25),
knn AS (
  SELECT vec_id AS doc_id, round(list_cosine_similarity(
           CAST(embedding AS DOUBLE[]),
           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
            WHERE vec_id = {_RRF_QVEC})), 6) AS cos
  FROM embeddings WHERE vec_id != {_RRF_QVEC}
  ORDER BY cos DESC, doc_id ASC LIMIT {_RRF_WINDOW}),
vec AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rnk
  FROM knn),
fused AS (
  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
         COALESCE(1.0 / ({_RRF_C} + l.rnk), 0)
           + COALESCE(1.0 / ({_RRF_C} + v.rnk), 0) AS rrf_raw
  FROM lex l FULL OUTER JOIN vec v USING (doc_id))
SELECT doc_id, round(rrf_raw, 6) AS rrf
FROM fused ORDER BY rrf_raw DESC, doc_id ASC LIMIT {_RRF_K}"""


@_reg("retriever_rrf", _rrf_sql())
def retriever_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF retriever: fuse the BM25 lexical leg with the dense kNN leg,
    score = Σ 1/(60 + rank). Both legs rank on their ROUNDED score with
    doc_id tie-break (the engine's documented ordering), and the fusion
    itself runs over two k-row relations — coordinator-scale work no
    matter the corpus size, exactly ES's rank-window contract."""
    from . import search_more as sm
    from .similarity import cosine_expr

    # lexical leg: window membership selected on the RAW bm25 score with
    # doc_id tie-break (exactly bm25_topk_sql's top-k contract — r04
    # advice: selecting on the rounded score could flip membership when
    # a rounding tie straddles the rank-window boundary), then rank on
    # the rounded score inside the window like the oracle's lex CTE
    bm = (sm._bm25_agg(spark, sf_dir, _RRF_TEXT)
          .orderBy(F.desc("bm25"), F.asc("doc_id")).limit(_RRF_WINDOW)
          .select("doc_id", F.round("bm25", osql.ROUND_DIGITS).alias("s")))
    lex = bm.select(
        "doc_id",
        F.row_number().over(
            Window.orderBy(F.desc("s"), F.asc("doc_id"))).alias("rnk"))
    # dense leg: brute-force cosine top-window (IVF/LSH is the scale
    # path — sim_ann_lsh; the RRF contract only needs each leg's top-k)
    e = tbl(spark, sf_dir, "embeddings")
    qv = [float(v) for v in e.where(F.col("vec_id") == _RRF_QVEC)
          .select("embedding").collect()[0][0]]
    qcol = F.array(*[F.lit(v) for v in qv])
    knn = (e.where(F.col("vec_id") != _RRF_QVEC)
           .select(F.col("vec_id").alias("doc_id"),
                   F.round(cosine_expr(F.col("embedding"), qcol), 6)
                   .alias("cos"))
           .orderBy(F.desc("cos"), F.asc("doc_id")).limit(_RRF_WINDOW))
    vec = knn.select(
        "doc_id",
        F.row_number().over(
            Window.orderBy(F.desc("cos"), F.asc("doc_id"))).alias("rnk"))
    l, v = lex.alias("l"), vec.alias("v")
    fused = (l.join(v, "doc_id", "full_outer")
             .select("doc_id",
                     (F.coalesce(1.0 / (_RRF_C + F.col("l.rnk")), F.lit(0.0))
                      + F.coalesce(1.0 / (_RRF_C + F.col("v.rnk")),
                                   F.lit(0.0))).alias("rrf_raw")))
    return (fused.orderBy(F.desc("rrf_raw"), F.asc("doc_id")).limit(_RRF_K)
            .select("doc_id", F.round("rrf_raw", 6).alias("rrf")))


# ---------------------------------------------------------------------------
# search_template / q_wrapper — parse-time frontends over the tree executor
# ---------------------------------------------------------------------------

_TPL_SOURCE = '+{{must}} "{{p0}} {{p1}}" {{opt}}'
_TPL_PARAMS = {"must": "value", "p0": "merge", "p1": "sort", "opt": "batch"}
_TPL_K = 10


def _render_template(source: str, params: dict[str, str]) -> str:
    """Mustache-subset substitution ({{var}} only — the slice of
    MustacheScriptEngine search templates actually use for params)."""
    def sub(m: re.Match) -> str:
        key = m.group(1).strip()
        if key not in params:
            raise KeyError(f"missing template param {key!r}")
        return str(params[key])
    return re.sub(r"\{\{([^}]+)\}\}", sub, source)


def _template_sql() -> str:
    from . import plan as pplan

    node = pplan.parse_query_string(_render_template(_TPL_SOURCE, _TPL_PARAMS))
    return osql.tree_sql(node, _TPL_K)


@_reg("search_template", _template_sql())
def search_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render {{params}} into the stored template, then parse + execute
    the result exactly like any query_string — substitution happens
    before planning, so the executed plan is indistinguishable from a
    direct query (as in ES, where the template renders to a source)."""
    from . import exec as pexec
    from . import plan as pplan

    node = pplan.parse_query_string(_render_template(_TPL_SOURCE, _TPL_PARAMS))
    hits = pexec.search_tree(_idx(spark, sf_dir), node, k=_TPL_K)
    return hits.select(
        "doc_id", F.round("score", osql.ROUND_DIGITS).alias("score"))


_WRAPPER_DSL = {
    "bool": {
        "must": [{"match": {"query": "merge sort"}}],
        "should": [{"term": {"value": "window"}}],
        "must_not": [{"term": {"value": "batch"}}],
    }
}
_WRAPPER_B64 = base64.b64encode(
    json.dumps(_WRAPPER_DSL).encode("utf-8")).decode("ascii")
_WRAPPER_K = 10


def _wrapper_sql() -> str:
    from . import plan as pplan

    dsl = json.loads(base64.b64decode(_WRAPPER_B64))
    return osql.tree_sql(pplan.parse_tree(dsl), _WRAPPER_K)


@_reg("q_wrapper", _wrapper_sql())
def q_wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wrapper query: the engine receives base64(JSON query), decodes at
    rewrite time, and executes the inner tree (WrapperQueryBuilder)."""
    from . import exec as pexec
    from . import plan as pplan

    dsl = json.loads(base64.b64decode(_WRAPPER_B64))
    hits = pexec.search_tree(_idx(spark, sf_dir),
                             pplan.parse_tree(dsl), k=_WRAPPER_K)
    return hits.select(
        "doc_id", F.round("score", osql.ROUND_DIGITS).alias("score"))


# ---------------------------------------------------------------------------
# field_caps — schema introspection (parquet footers only, no data scan)
# ---------------------------------------------------------------------------

_FC_TABLES = ("documents", "events")

#: Spark type -> ES field type (the slice our tables use)
_FC_SPARK_TYPES = {
    "bigint": "long", "string": "text", "double": "double",
    "timestamp": "date", "timestamp_ntz": "date", "int": "integer",
    "array<float>": "dense_vector",
}
_FC_DUCK_CASES = """CASE data_type
    WHEN 'BIGINT' THEN 'long' WHEN 'VARCHAR' THEN 'text'
    WHEN 'DOUBLE' THEN 'double' WHEN 'TIMESTAMP' THEN 'date'
    WHEN 'INTEGER' THEN 'integer' WHEN 'FLOAT[]' THEN 'dense_vector'
    ELSE lower(data_type) END"""


@_reg("field_caps", f"""
SELECT table_name AS idx, column_name AS field,
       {_FC_DUCK_CASES} AS es_type
FROM information_schema.columns
WHERE table_name IN {_FC_TABLES!r}
ORDER BY idx, field""")
def field_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_field_caps: (index, field, es_type) rows derived from the live
    table schemas — the engine maps Spark types to ES field types, the
    oracle maps DuckDB's information_schema; a green row proves the
    type mapping agrees on every column of every index."""
    rows = []
    for t in _FC_TABLES:
        for f in tbl(spark, sf_dir, t).schema.fields:
            s = f.dataType.simpleString()
            rows.append((t, f.name, _FC_SPARK_TYPES.get(s, s)))
    return (local_frame(spark, rows, "idx string, field string, "
                                        "es_type string")
            .orderBy("idx", "field"))


# ---------------------------------------------------------------------------
# x-pack SQL frontend — MATCH()/SCORE() and the relational core
# ---------------------------------------------------------------------------

_XSQL_AGGS = {"count": F.count, "sum": F.sum, "avg": F.avg,
              "min": F.min, "max": F.max}

_XSQL_MATCH_RE = re.compile(
    r"^SELECT\s+doc_id\s*,\s*SCORE\(\)\s+AS\s+(\w+)\s+"
    r"FROM\s+(\w+)\s+WHERE\s+MATCH\(\s*(\w+)\s*,\s*'([^']*)'\s*\)\s+"
    r"ORDER\s+BY\s+SCORE\(\)\s+DESC\s+LIMIT\s+(\d+)\s*$", re.I)

_XSQL_ITEM_RE = re.compile(
    r"^(?:(\w+)|(?:ROUND\()?\s*(\w+)\(\s*(\*|\w+)\s*\)"
    r"(?:\s*,\s*(\d+)\s*\))?\s+AS\s+(\w+))$", re.I)


def parse_xsql(sql: str):
    """Tiny x-pack-SQL parser: either the full-text shape
    (SELECT doc_id, SCORE() … WHERE MATCH(col, 'text') … LIMIT k) or the
    relational shape (SELECT keys+aggs FROM t [WHERE col op lit [AND …]]
    GROUP BY keys ORDER BY item [ASC|DESC], … LIMIT n). Returns a
    callable (spark, sf_dir) -> DataFrame driving ordinary Catalyst
    plans — the role QueryTranslator plays onto the ES DSL."""
    m = _XSQL_MATCH_RE.match(sql.strip())
    if m:
        alias, table, col, text, k = m.groups()
        if table != "documents" or col != "text":
            raise ValueError("MATCH() is indexed over documents.text only")

        def run_match(spark: SparkSession, sf_dir: str) -> DataFrame:
            from . import exec as pexec

            hits = pexec.search(_idx(spark, sf_dir), text, k=int(k))
            return hits.select(
                "doc_id",
                F.round("score", osql.ROUND_DIGITS).alias(alias))
        return run_match

    g = re.match(
        r"^SELECT\s+(.*?)\s+FROM\s+(\w+)(?:\s+WHERE\s+(.*?))?"
        r"\s+GROUP\s+BY\s+(.*?)\s+ORDER\s+BY\s+(.*?)\s+LIMIT\s+(\d+)\s*$",
        sql.strip(), re.I | re.S)
    if not g:
        raise ValueError(f"unsupported x-pack SQL: {sql!r}")
    items_s, table, where_s, group_s, order_s, limit_s = g.groups()
    keys = [c.strip() for c in group_s.split(",")]
    aggs = []  # (alias, agg_fn_name, col, round_digits|None)
    for item in re.split(r",(?![^()]*\))", items_s):
        item = item.strip()
        mi = _XSQL_ITEM_RE.match(item)
        if not mi:
            raise ValueError(f"unsupported select item: {item!r}")
        bare, fn, col, digits, alias = mi.groups()
        if bare:
            if bare not in keys:
                raise ValueError(f"non-grouped bare column {bare!r}")
            continue
        aggs.append((alias, fn.lower(), col,
                     int(digits) if digits else None))
    order = []
    for o in order_s.split(","):
        parts = o.strip().split()
        desc = len(parts) > 1 and parts[1].upper() == "DESC"
        order.append((parts[0], desc))

    def run_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = tbl(spark, sf_dir, table)
        if where_s:
            df = df.where(where_s)  # Catalyst parses the ANSI predicate
        cols = []
        for alias, fn, col, digits in aggs:
            c = (F.count(F.lit(1)) if col == "*"
                 else _XSQL_AGGS[fn](col))
            if digits is not None:
                c = F.round(c, digits)
            cols.append(c.alias(alias))
        out = df.groupBy(*keys).agg(*cols)
        return (out.orderBy(*[F.desc(c) if d else F.asc(c)
                              for c, d in order])
                .limit(int(limit_s)))
    return run_rel


_XSQL_MATCH_Q = ("SELECT doc_id, SCORE() AS score FROM documents "
                 "WHERE MATCH(text, 'merge sort') "
                 "ORDER BY SCORE() DESC LIMIT 10")
_XSQL_GROUP_Q = (
    "SELECT lang, source, COUNT(*) AS n, ROUND(AVG(n_chars), 4) AS "
    "avg_chars FROM documents WHERE n_chars >= 40 GROUP BY lang, source "
    "ORDER BY n DESC, lang ASC, source ASC LIMIT 8")

REGISTRY["xsql_match"] = Entry(
    fn=parse_xsql(_XSQL_MATCH_Q),
    sql=osql.bm25_topk_sql("merge sort", 10))

# the oracle for the relational shape is the query itself — ANSI SQL that
# DuckDB runs directly; the ENGINE side goes through parse_xsql's
# translation to DataFrame ops, so the row proves the translation.
REGISTRY["xsql_group_by"] = Entry(
    fn=parse_xsql(_XSQL_GROUP_Q),
    sql=_XSQL_GROUP_Q)


# ---------------------------------------------------------------------------
# agg_significant_text — JLH over analyzed text, deduped per document
# ---------------------------------------------------------------------------

_SIG_FG_TERM, _SIG_K = "spark", 10


@_reg("agg_significant_text", f"""
WITH {_POS_CTE},
dt AS (SELECT DISTINCT doc_id, term FROM pos),
fg AS (SELECT DISTINCT doc_id FROM dt WHERE term = '{_SIG_FG_TERM}'),
n AS (SELECT (SELECT count(*)::DOUBLE FROM fg) AS n_fg,
             (SELECT count(*)::DOUBLE FROM documents) AS n_bg),
dfg AS (SELECT term, count(*)::DOUBLE AS df_fg
        FROM dt JOIN fg USING (doc_id) GROUP BY term),
dbg AS (SELECT term, count(*)::DOUBLE AS df_bg FROM dt GROUP BY term),
sc AS (
  SELECT f.term, CAST(f.df_fg AS BIGINT) AS df_fg,
         (f.df_fg / n.n_fg - b.df_bg / n.n_bg)
           * (f.df_fg / n.n_fg) / (b.df_bg / n.n_bg) AS jlh_raw
  FROM dfg f JOIN dbg b USING (term) CROSS JOIN n
  WHERE f.df_fg / n.n_fg > b.df_bg / n.n_bg)
SELECT term, df_fg, round(jlh_raw, 6) AS jlh FROM sc
ORDER BY jlh_raw DESC, term ASC LIMIT {_SIG_K}""")
def agg_significant_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """significant_text: terms over-represented in the ANALYZED text of
    the foreground docs (those containing '{_SIG_FG_TERM}') vs the whole
    corpus, JLH-scored, deduped per doc. The engine reads the PERSISTED
    (term, doc)-grain positional store — the foreground leg is a
    bucket-pruned term lookup, the background dfs one (term,doc) scan —
    never the raw corpus (SignificantTextAggregationBuilder re-analyzes
    _source per hit; our store already holds the analyzed form)."""
    pt = positions_table(spark, sf_dir).select("doc_id", "term")
    fg = (term_doc_positions(spark, sf_dir, _SIG_FG_TERM)
          .select("doc_id").distinct())
    n_fg = float(fg.count())
    n_bg = float(tbl(spark, sf_dir, "documents").count())
    dfg = (pt.join(F.broadcast(fg), "doc_id")
           .groupBy("term").agg(F.count("*").cast("double").alias("df_fg")))
    dbg = pt.groupBy("term").agg(F.count("*").cast("double").alias("df_bg"))
    p_fg = F.col("df_fg") / n_fg
    p_bg = F.col("df_bg") / n_bg
    sc = (dfg.join(dbg, "term")
          .where(p_fg > p_bg)
          .select("term", F.col("df_fg").cast("bigint").alias("df_fg_i"),
                  ((p_fg - p_bg) * p_fg / p_bg).alias("jlh_raw")))
    return (sc.orderBy(F.desc("jlh_raw"), F.asc("term")).limit(_SIG_K)
            .select("term", F.col("df_fg_i").alias("df_fg"),
                    F.round("jlh_raw", 6).alias("jlh")))


# ---------------------------------------------------------------------------
# q_combined_fields — BM25F-ish term-centric multi-field scoring
# ---------------------------------------------------------------------------

_CF_TERMS = ("merge", "sort")
_CF_FIELDS = {"content": 1.0, "title": 2.0}  # field -> weight
_CF_K = 10
_CF_FIELD_SQL = {"content": "text", "title": "substr(text, 1, 80)"}


def _cf_sql() -> str:
    k1, b = analysis.K1, analysis.B
    in_list = ", ".join(f"'{t}'" for t in _CF_TERMS)
    tok_branches = []
    for i, (fname, w) in enumerate(_CF_FIELDS.items()):
        fexpr = _CF_FIELD_SQL[fname]
        tok_branches.append(f"""
  SELECT doc_id, CAST(i - 1 AS INT) AS pos, t[CAST(i AS INT)] AS term,
         {w} AS w
  FROM (SELECT doc_id, {analysis.duckdb_tokens_nostop_expr(fexpr)} AS t
        FROM documents),
       unnest(range(1, len(t) + 1)) AS u(i)""")
    return f"""
WITH toks AS ({" UNION ALL ".join(tok_branches)}),
tfw AS (
  SELECT doc_id, term, sum(w) AS tfc
  FROM toks WHERE term IN ({in_list}) GROUP BY doc_id, term),
dlw AS (SELECT doc_id, sum(w) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*)::DOUBLE FROM documents) AS n,
         (SELECT sum(dl) FROM dlw)
           / (SELECT count(*)::DOUBLE FROM documents) AS avgdl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tfw GROUP BY term),
scored AS (
  SELECT t.doc_id,
         ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5))
           * t.tfc / (t.tfc + {k1} * (1 - {b}
                      + {b} * COALESCE(d.dl, 0) / s.avgdl)) AS contrib
  FROM tfw t
  JOIN dfreq f USING (term)
  LEFT JOIN dlw d ON t.doc_id = d.doc_id
  CROSS JOIN stats s),
agg AS (SELECT doc_id, sum(contrib) AS score_raw FROM scored
        GROUP BY doc_id),
topk AS (SELECT doc_id, score_raw FROM agg
         ORDER BY score_raw DESC, doc_id ASC LIMIT {_CF_K})
SELECT doc_id, round(score_raw, {osql.ROUND_DIGITS}) AS score FROM topk"""


@_reg("q_combined_fields", _cf_sql())
def q_combined_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """combined_fields: score the query terms against ONE synthetic
    field combining (content ×1, title ×2) — tf' = Σ w_f·tf_f, dl' =
    Σ w_f·dl_f, idf from the combined df ([lucene dep]
    CombinedFieldQuery's term-centric BM25F). The engine computes tf'
    and dl' from the PERSISTED per-field positional stores (the
    query-term legs bucket-prune; dl'/avgdl come from (term,doc)-grain
    aggregates) — the corpus text is never re-read."""
    from functools import reduce

    k1, b = analysis.K1, analysis.B
    n = float(tbl(spark, sf_dir, "documents").count())
    tf_parts, dl_parts, sum_dl = [], [], 0.0
    for fname, w in _CF_FIELDS.items():
        seg = store.segment_index(spark, sf_dir, fname)
        pt = seg.positions
        tf_parts.append(
            seg.term_rows("positions", _CF_TERMS)
            .select("doc_id", "term",
                    (F.size("poss") * F.lit(w)).cast("double").alias("wtf")))
        dl_parts.append(
            pt.groupBy("doc_id")
            .agg((F.sum(F.size("poss")) * F.lit(w))
                 .cast("double").alias("wdl")))
        sum_dl += float(w) * float(
            pt.agg(F.coalesce(F.sum(F.size("poss")), F.lit(0))).collect()[0][0])
    avgdl = sum_dl / n
    tfw = (reduce(DataFrame.unionByName, tf_parts)
           .groupBy("doc_id", "term").agg(F.sum("wtf").alias("tfc")))
    dlw = (reduce(DataFrame.unionByName, dl_parts)
           .groupBy("doc_id").agg(F.sum("wdl").alias("dl")))
    dfreq = tfw.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(1.0 + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    scored = (tfw.join(F.broadcast(dfreq), "term")
              .join(dlw, "doc_id", "left")
              .select("doc_id",
                      (idf * F.col("tfc")
                       / (F.col("tfc") + k1 * (1.0 - b + b
                          * F.coalesce(F.col("dl"), F.lit(0.0)) / avgdl)))
                      .alias("contrib")))
    agg = scored.groupBy("doc_id").agg(F.sum("contrib").alias("score_raw"))
    return (agg.orderBy(F.desc("score_raw"), F.asc("doc_id")).limit(_CF_K)
            .select("doc_id",
                    F.round("score_raw", osql.ROUND_DIGITS).alias("score")))
