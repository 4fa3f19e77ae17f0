"""Text-analysis operators for training-data pipelines (driver brief):
language ID (stopword-lexicon heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting (canonical
fingerprint + winnowing with rolling k-gram hashes).

All deterministic arithmetic/regex/hash — every entry carries a strong
DuckDB oracle. Everything is a Catalyst expression or a flat
explode→groupBy; nothing needs Python in the row loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import analysis
from .exec import local_frame
from .registry import Entry, tbl

REGISTRY: dict[str, Entry] = {}

# tiny frozen per-language function-word lexicons (heuristic lang-ID)
LANG_LEXICON: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es": ("el", "los", "las", "es", "y", "que", "una", "por"),
    "fr": ("le", "les", "et", "est", "dans", "une", "pour", "qui"),
}

BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"  # BPE-ish pre-tokenizer
WINNOW_K = 8   # char k-grams
WINNOW_W = 4   # winnowing window (min-hash kept per window)


def _reg(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = Entry(fn=fn, sql=sql)
        return fn
    return deco


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

_STOP_IN = ", ".join(f"'{w}'" for w in analysis.STOPWORDS)

@_reg("text_quality", f"""
WITH tok AS (
  SELECT doc_id, unnest({analysis.duckdb_tokens_expr('text')}) AS term
  FROM documents
),
m AS (
  SELECT doc_id, count(*) AS n_tokens,
         round(avg(len(term)), 6) AS avg_token_len,
         round(sum(CASE WHEN term IN ({_STOP_IN}) THEN 1 ELSE 0 END) * 1.0
               / count(*), 6) AS stop_ratio
  FROM tok GROUP BY doc_id
)
SELECT d.doc_id, coalesce(m.n_tokens, 0) AS n_tokens,
       coalesce(m.avg_token_len, 0.0) AS avg_token_len,
       coalesce(m.stop_ratio, 0.0) AS stop_ratio,
       round(len(replace(d.text, ' ', '')) * 1.0
             / greatest(len(d.text), 1), 6) AS ink_ratio
FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
ORDER BY d.doc_id""")
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features: token count, mean token length, stopword
    ratio, non-whitespace ('ink') ratio — the usual cheap filters a corpus
    pipeline applies before training. Ratios are computed over PRE-stop
    tokens (quality looks at raw text)."""
    d = tbl(spark, sf_dir, "documents")
    raw_tokens = d.select(
        "doc_id", "text",
        F.explode_outer(F.regexp_extract_all(
            F.lower(_split_expr(F.col("text"))), F.lit(analysis.TOKEN_RE), F.lit(0)
        )).alias("term"))
    m = (raw_tokens.groupBy("doc_id").agg(
        F.count("term").alias("n_tokens"),
        F.round(F.avg(F.length("term")), 6).alias("avg_token_len"),
        F.round(F.sum(F.when(F.col("term").isin(*analysis.STOPWORDS), 1)
                      .otherwise(0)) / F.count("term"), 6).alias("stop_ratio")))
    ink = F.round(F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                  / F.greatest(F.length("text"), F.lit(1)), 6)
    return (d.join(m, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                    F.coalesce("avg_token_len", F.lit(0.0)).alias("avg_token_len"),
                    F.coalesce("stop_ratio", F.lit(0.0)).alias("stop_ratio"),
                    ink.alias("ink_ratio"))
            .orderBy("doc_id"))


def _split_expr(col):
    c = col
    for pat in analysis.SPLIT_RULES:
        c = F.regexp_replace(c, pat, r"$1 $2")
    return c


# ---------------------------------------------------------------------------
# language ID — stopword-lexicon vote
# ---------------------------------------------------------------------------

_LEX_VALUES = ", ".join(
    f"('{lang}', '{w}')" for lang, ws in sorted(LANG_LEXICON.items()) for w in ws)

@_reg("text_langid", f"""
WITH tok AS (
  SELECT doc_id, unnest({analysis.duckdb_tokens_expr('text')}) AS term
  FROM documents
),
lex(lang, w) AS (VALUES {_LEX_VALUES}),
hits AS (
  SELECT t.doc_id, l.lang, count(*) AS n
  FROM tok t JOIN lex l ON t.term = l.w
  GROUP BY t.doc_id, l.lang
),
best AS (
  SELECT doc_id, lang AS pred_lang, n,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY n DESC, lang ASC) AS rn
  FROM hits)
SELECT d.doc_id, coalesce(b.pred_lang, 'und') AS pred_lang,
       coalesce(b.n, 0) AS n_hits
FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
ORDER BY d.doc_id""")
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: vote by per-language function-word hits
    (broadcast lexicon join), argmax with deterministic tie-break,
    'und' when nothing matches. The lexicon-join shape scales: the corpus
    shuffles once on doc_id; the lexicon is a broadcast literal."""
    d = tbl(spark, sf_dir, "documents")
    tok = d.select("doc_id",
                   F.explode(_raw_tokens_expr(F.col("text"))).alias("term"))
    spark_lex = local_frame(spark, 
        [(lang, w) for lang, ws in sorted(LANG_LEXICON.items()) for w in ws],
        "lang string, w string")
    hits = (tok.join(F.broadcast(spark_lex), tok.term == spark_lex.w)
            .groupBy("doc_id", "lang").agg(F.count("*").alias("n")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("n"), F.asc("lang"))
    best = (hits.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("doc_id", F.col("lang").alias("pred_lang"), "n"))
    return (d.join(best, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
                    F.coalesce("n", F.lit(0)).alias("n_hits"))
            .orderBy("doc_id"))


def _raw_tokens_expr(col):
    """Tokens WITHOUT stopword removal (quality/lang-ID need them)."""
    return F.regexp_extract_all(
        F.lower(_split_expr(col)), F.lit(analysis.TOKEN_RE), F.lit(0))


# ---------------------------------------------------------------------------
# token counting — whitespace + BPE-ish
# ---------------------------------------------------------------------------

@_reg("text_tokencount", f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws,
       len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS n_bpe
FROM documents ORDER BY doc_id""")
def text_tokencount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: naive whitespace split and a BPE-style
    pre-tokenizer regex (letter runs | digit runs | single punctuation) —
    the standard proxy for LLM token budgets at corpus scale."""
    return (tbl(spark, sf_dir, "documents")
            .select("doc_id",
                    F.size(F.split("text", " ")).alias("n_ws"),
                    F.size(F.regexp_extract_all(
                        "text", F.lit(BPE_TOKEN_RE), F.lit(0))).alias("n_bpe"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------

@_reg("text_fingerprint", f"""
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
             {analysis.duckdb_tokens_nostop_expr('text')})), ' ')) AS fingerprint
  FROM documents
)
SELECT fingerprint, min(doc_id) AS keep_doc_id, count(*) AS n_docs
FROM fp GROUP BY fingerprint ORDER BY keep_doc_id""")
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical 'fingerprint' dedup key (OpenRefine-style): md5 of the
    sorted distinct analyzed-token set — robust to word order and
    repetition; groups documents sharing a fingerprint."""
    d = tbl(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(
            analysis.tokens_expr(F.col("text")))))).alias("fingerprint"))
    return (fp.groupBy("fingerprint")
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count("*").alias("n_docs"))
            .orderBy("keep_doc_id"))


@_reg("text_winnow", f"""
WITH grams AS (
  SELECT doc_id, i, md5(substr(text, CAST(i AS INT), {WINNOW_K})) AS h
  FROM documents,
       unnest(range(1, greatest(len(text) - {WINNOW_K - 2}, 1))) AS u(i)
),
wins AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
           AS wmin,
         i, count(*) OVER (PARTITION BY doc_id) AS n
  FROM grams
)
SELECT doc_id, count(DISTINCT wmin) AS n_fingerprints
FROM wins WHERE i <= n - {WINNOW_W - 1}
GROUP BY doc_id ORDER BY doc_id""")
def text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    rolling char-8-gram hashes, keep the min hash of each 4-gram window,
    count distinct selected fingerprints per doc. The rolling hash is
    md5-of-substring (engine-portable); at 100 TB the posexplode happens
    partition-local (narrow) and only the tiny fingerprint set shuffles."""
    d = tbl(spark, sf_dir, "documents")
    n = F.length("text") - (WINNOW_K - 1)
    pos = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>"))
    grams = (d.select("doc_id", "text", F.explode(pos).alias("i"))
             .select("doc_id", "i",
                     F.md5(F.expr(f"substr(text, i, {WINNOW_K})")).alias("h")))
    w = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, WINNOW_W - 1)
    wn = Window.partitionBy("doc_id")
    wins = grams.select(
        "doc_id", "i",
        F.min("h").over(w).alias("wmin"),
        F.count("*").over(wn).alias("n"))
    return (wins.where(F.col("i") <= F.col("n") - (WINNOW_W - 1))
            .groupBy("doc_id")
            .agg(F.count_distinct("wmin").alias("n_fingerprints"))
            .orderBy("doc_id"))
