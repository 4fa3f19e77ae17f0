"""Analyzer golden cases + 3-way implementation parity (FIXTURES §4).

The spec promises the SAME tokens from pure Python, Spark-native SQL
(tested in test_spark_e2e.py), and DuckDB RE2 SQL.
"""

import string

import numpy as np
import pandas as pd
import pytest

from pysearch import analysis

GOLDEN = [
    # (input, expected tokens)
    ("getUserName", ["get", "user", "name"]),
    ("parseHTTPRequest", ["parse", "http", "request"]),
    ("parse_http2Request", ["parse", "http", "2", "request"]),
    ("read_file_chunk", ["read", "file", "chunk"]),
    ("THE the The", []),                      # stopwords, all cases
    ("x", ["x"]),
    ("", []),
    ("...!?--", []),                          # punctuation only
    ("foo.bar(baz)", ["foo", "bar", "baz"]),
    ("SD500 http2 2fa", ["sd", "500", "http", "2", "2", "fa"]),
    ("ABCdef", ["ab", "cdef"]),               # acronym boundary keeps last cap
    ("aBcD", ["bc", "d"]),                    # leading 'a' split part is a stopword
    ("__init__", ["init"]),
    ("CONSTANT_VALUE", ["constant", "value"]),
    ("The quick brown fox", ["quick", "brown", "fox"]),
    ("value2", ["value", "2"]),
    ("a an and are as at be", []),            # pure stopwords
    ("küche", ["k", "che"]),                  # ASCII alphabet: non-ASCII breaks
    ("x" * 300, ["x" * 300]),                 # very long token kept
]


@pytest.mark.parametrize("text,expected", GOLDEN)
def test_analyze_golden(text, expected):
    assert analysis.analyze(text) == expected


def test_stopword_list_frozen():
    assert len(analysis.STOPWORDS) == 33
    assert "the" in analysis.STOPWORD_SET and "will" in analysis.STOPWORD_SET


def _random_texts(n=300, seed=42):
    rng = np.random.default_rng(seed)
    alphabet = list(string.ascii_letters + string.digits + "_.,;()[]{} \n\t-+*/'\"")
    words = ["getUserName", "parse_http2Request", "the", "a", "HTTPServer",
             "x509CertPath", "SD500", "fooBARBaz", "__dunder__", "CONST_VAL"]
    out = []
    for _ in range(n):
        parts = []
        for _ in range(int(rng.integers(0, 30))):
            if rng.random() < 0.4:
                parts.append(words[int(rng.integers(0, len(words)))])
            else:
                ln = int(rng.integers(1, 12))
                parts.append("".join(rng.choice(alphabet, size=ln)))
        out.append(" ".join(parts))
    return out


def test_duckdb_parity_random():
    duckdb = pytest.importorskip("duckdb")
    texts = _random_texts(seed=7)
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(texts)), "text": texts}))
    sql = f"""
      WITH tok AS (
        SELECT i, unnest({analysis.duckdb_tokens_expr('text')}) AS term FROM t
      )
      SELECT i, list(term ORDER BY rowid) AS toks
      FROM (SELECT row_number() OVER () AS rowid, * FROM tok
            WHERE {analysis.duckdb_stop_pred('term')})
      GROUP BY i
    """
    rows = dict(con.sql(sql).fetchall())
    for i, text in enumerate(texts):
        assert rows.get(i, []) == analysis.analyze(text), text


def test_dl_counts_post_stop_tokens():
    # dl counts tokens AFTER stop removal, split parts each count (SURVEY §8.7)
    assert len(analysis.analyze("the getUserName")) == 3
