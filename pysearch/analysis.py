"""Code-aware analysis chain (tokenization) — single source of truth.

Models the reference's default analysis pipeline for source code:
  StandardTokenizer (ASCII word-break subset)
  + word_delimiter_graph-style camelCase / digit-boundary splitting
  + lowercase
  + English stopword removal (Lucene's frozen 33-word list).

Reference anchors (SURVEY.md §2.2):
  server/src/main/java/org/elasticsearch/index/analysis/AnalysisRegistry.java -> #build
  modules/analysis-common/.../WordDelimiterGraphTokenFilterFactory.java
  [lucene dep] org.apache.lucene.analysis.standard.StandardTokenizer,
               WordDelimiterGraphFilter, LowerCaseFilter, StopFilter,
               EnglishAnalyzer#ENGLISH_STOP_WORDS_SET

DESIGN CONSTRAINT: the exact same token stream must be producible by
  (1) pure Python        (oracle + unit tests)          -> analyze()
  (2) Spark native SQL expressions (the build path: JVM
      codegen, no Python worker)                        -> tokens_expr()
  (3) DuckDB SQL (driver correctness oracle)            -> duckdb_tokens_expr()
so the spec uses ONLY RE2-compatible regexes (no lookahead/lookbehind —
DuckDB is RE2) with two-capture-group split rules, and an ASCII token
alphabet [a-z0-9] (non-ASCII bytes are token breaks; the corpus is source
code). Applying the split rules to the WHOLE text (instead of per raw
token) is equivalent because every rule only fires between two
alphanumeric characters, which never span a token break.

Spec (applied in order):
  1. insert ' ' between: lower->UPPER, UPPER->(UPPER lower) [acronym end],
     letter->digit, digit->letter
  2. lowercase
  3. tokens = maximal runs of [a-z0-9]  ('_' and all punctuation break)
  4. drop stopwords (33-word frozen list)
Doc length dl = len(tokens) AFTER stopword removal (stopwords are removed
before indexing so they never count — SURVEY §8.7; split parts each count).
"""

from __future__ import annotations

import re

# (pattern, keep-two-groups). Replacement is always 'group1 SPACE group2',
# spelled per dialect: python/RE2 '\1 \2', Java (Spark regexp_replace) '$1 $2'.
SPLIT_RULES: list[str] = [
    r"([a-z])([A-Z])",          # camelCase          getUser -> get User
    r"([A-Z])([A-Z][a-z])",     # acronym boundary   HTTPRequest -> HTTP Request
    r"([A-Za-z])([0-9])",       # letter->digit      http2 -> http 2
    r"([0-9])([A-Za-z])",       # digit->letter      2fa -> 2 fa
]

TOKEN_RE = r"[a-z0-9]+"

# Lucene EnglishAnalyzer#ENGLISH_STOP_WORDS_SET — frozen 33 words (FIXTURES.md §4).
STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
)
STOPWORD_SET = frozenset(STOPWORDS)
assert len(STOPWORDS) == 33

_COMPILED = [(re.compile(p), r"\1 \2") for p in SPLIT_RULES]
_TOKEN_COMPILED = re.compile(TOKEN_RE)

# BM25 defaults — index/similarity/SimilarityService.java (SURVEY §8.8).
K1 = 1.2
B = 0.75


def split_boundaries(text: str) -> str:
    """Apply the 4 split rules (pure Python)."""
    for pat, rep in _COMPILED:
        text = pat.sub(rep, text)
    return text


def analyze(text: str) -> list[str]:
    """Pure-Python reference implementation of the full chain."""
    if not text:
        return []
    toks = _TOKEN_COMPILED.findall(split_boundaries(text).lower())
    return [t for t in toks if t not in STOPWORD_SET]


def tokens_expr(col):
    """Spark-native (JVM/codegen) expression: string col -> array<string>.

    Equivalent to analyze(); stays entirely inside Catalyst/Tungsten —
    this is the build path's tokenizer (no Python worker at all).
    Java regex replacement syntax uses $1/$2.
    """
    from pyspark.sql import functions as F

    c = col
    for pat in SPLIT_RULES:
        c = F.regexp_replace(c, pat, r"$1 $2")
    arr = F.regexp_extract_all(F.lower(c), F.lit(TOKEN_RE), 0)
    return F.filter(arr, lambda x: ~x.isin(*STOPWORDS))


def duckdb_tokens_expr(text_col: str) -> str:
    """DuckDB (RE2) SQL expression: tokens of text_col as LIST(VARCHAR),
    stopwords NOT yet removed (filter after unnest with duckdb_stop_pred)."""
    c = text_col
    for pat in SPLIT_RULES:
        c = f"regexp_replace({c}, '{pat}', '\\1 \\2', 'g')"
    return f"regexp_extract_all(lower({c}), '{TOKEN_RE}')"


def duckdb_stop_pred(term_col: str) -> str:
    quoted = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"{term_col} NOT IN ({quoted})"


def duckdb_tokens_nostop_expr(text_col: str) -> str:
    """DuckDB expression: fully-analyzed token list (stopwords removed) —
    the exact equivalent of tokens_expr()/analyze()."""
    return (f"list_filter({duckdb_tokens_expr(text_col)}, "
            f"x -> {duckdb_stop_pred('x')})")
