"""End-to-end: Spark-built index answers rank-identical BM25 top-k vs the
brute-force oracle (SURVEY §5.3), on the sf0.001 documents corpus, for both
physical strategies (local coordinator kernel, distributed) and the "gather" name
that selects distributed, with salting on."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pysearch import analysis, build, codec, exec as pexec

# query set: rare term, hot Zipf-head term, absent term, stopword-only,
# AND pairs/quads, OR up to 5 terms, k edge cases (FIXTURES §2)
CASES = [
    ("merge", 10, "or"),
    ("value", 10, "or"),           # hot (salted) term
    ("zzzznotfound", 10, "or"),
    ("the a to", 10, "or"),        # all stopwords -> empty
    ("merge sort", 10, "and"),
    ("value table part hash", 10, "and"),
    ("merge sort window batch spark", 10, "or"),
    ("value merge", 1, "or"),
    ("value merge", 100, "or"),
    ("slow fast", 25, "and"),
    ("key value", 100, "and"),
    ("merge zzqqabsent", 10, "and"),  # AND with an absent term -> empty
]


def _oracle_topk(oracle_index, text, k, mode):
    return oracle_index.search(analysis.analyze(text), k=k, mode=mode)


def _assert_oracle_identical(got, expect):
    assert [r["doc_id"] for r in got] == [d for d, _ in expect]
    gs = np.array([r["score"] for r in got])
    es = np.array([s for _, s in expect])
    if len(gs):
        np.testing.assert_allclose(gs, es, rtol=1e-12)
        # float32 parity: identical after cast (Lucene reports float32)
        assert np.array_equal(gs.astype(np.float32), es.astype(np.float32))


@pytest.mark.parametrize("text,k,mode", CASES)
@pytest.mark.parametrize("method", ["local", "gather", "distributed"])
def test_topk_rank_and_score_identical(built_index, oracle_index, text, k, mode, method):
    got = pexec.search(built_index, text, k=k, mode=mode, method=method).collect()
    _assert_oracle_identical(got, _oracle_topk(oracle_index, text, k, mode))


def test_auto_past_local_cap_matches_oracle(built_index, oracle_index, monkeypatch):
    """With the local cap at 0, method="auto" routes every query with a
    present term to the distributed strategy (an all-absent query, Σdf = 0,
    stays local) and still answers like the oracle."""
    monkeypatch.setattr(pexec, "LOCAL_MAX_POSTINGS", 0)
    for text, k, mode in [("merge", 10, "or"), ("zzzznotfound", 10, "or"),
                          ("value table part hash", 10, "and"),
                          ("value merge", 100, "or")]:
        got = pexec.search(built_index, text, k=k, mode=mode).collect()
        _assert_oracle_identical(got, _oracle_topk(oracle_index, text, k, mode))


def test_unknown_method_raises(built_index):
    with pytest.raises(ValueError, match="bogus"):
        pexec.search_many(built_index, [pexec.Query(0, ["merge"])], method="bogus")


@pytest.mark.parametrize("text,mode", [("merge sort", "or"), ("merge sort", "and"),
                                       ("value table part hash", "and")])
def test_constant_score_keeps_every_match(built_index, oracle_index, text, mode):
    """The pinned scorers keep the whole match set (no top-k): no Window
    in the executed plan, and exactly the oracle's matching docs."""
    df = pexec.search_constant_score(built_index, text, boost=2.0, mode=mode)
    assert "Window" not in df._jdf.queryExecution().executedPlan().toString()
    got = df.collect()
    assert sorted(r["doc_id"] for r in got) == sorted(
        d for d, _ in _oracle_topk(oracle_index, text, 10**9, mode))
    assert {r["score"] for r in got} <= {2.0}


def test_salting_actually_happened(built_index):
    n_salted = built_index.postings.where(F.col("salt") > 0).count()
    assert n_salted > 0
    # salted sub-lists partition the postings: per-term totals preserved
    tot = (built_index.postings.groupBy("term")
           .agg(F.sum("n_in_block").alias("n"), F.first("df").alias("df")))
    bad = tot.where(F.col("n") != F.col("df")).count()
    assert bad == 0


def test_count_matches(built_index, oracle_index):
    got = pexec.count_matches(built_index, "merge sort", mode="and")
    expect = len(oracle_index.search(analysis.analyze("merge sort"),
                                     k=10**9, mode="and"))
    assert got == expect


def test_fetch_sha_invariant(built_index):
    hits = pexec.search(built_index, "merge", k=5)
    fetched = pexec.fetch(built_index, hits).collect()
    assert len(fetched) == 5
    assert all(r["sha_ok"] for r in fetched)
    assert all(len(r["content_sha"]) == 64 for r in fetched)


def test_tokenizer_native_vs_pandas_parity(spark):
    """The build's tokenizer (analysis.tokens_expr, JVM codegen) equals the
    pure-python spec."""
    corpus = build.corpus_from_documents(spark, "/root/testdata/sf0.001").limit(120)
    rows = corpus.select("doc_id", "content", analysis.tokens_expr(
        F.col("content")).alias("tokens")).collect()
    assert rows
    for r in rows:
        assert r["tokens"] == analysis.analyze(r["content"])


def test_spark_byte4_sql_parity(spark):
    import pandas as pd

    xs = np.unique(np.concatenate([
        np.arange(0, 4096),
        2 ** np.arange(12, 31), 2 ** np.arange(12, 31) - 1,
        np.random.default_rng(0).integers(0, 2**31 - 1, size=2000),
    ])).astype(np.int64)
    sdf = spark.createDataFrame(pd.DataFrame({"dl": xs}))
    got = (sdf.select(
        F.expr(codec.spark_byte4_sql("dl")).alias("b"),
        F.expr(codec.spark_dlq_sql("dl")).alias("q"))
        .toPandas())
    assert np.array_equal(got["b"].to_numpy(), codec.int_to_byte4(xs).astype(np.int64))
    assert np.array_equal(got["q"].to_numpy(), codec.quantize_dl(xs))


def test_with_doc_ids_dense_rank(spark):
    corpus = build.corpus_from_documents(spark, "/root/testdata/sf0.001") \
        .drop("doc_id")
    out = build.with_doc_ids(corpus).select("doc_id", "repo", "path", "commit") \
        .orderBy("doc_id").collect()
    ids = [r["doc_id"] for r in out]
    assert ids == list(range(len(out)))
    keys = [(r["repo"], r["path"], r["commit"]) for r in out]
    assert keys == sorted(keys)


def test_write_load_resume(built_index, spark, tmp_path_factory):
    import json
    import os
    import shutil

    out = str(tmp_path_factory.mktemp("seg") / "seg_000")
    m1 = build.write_index(built_index, out)
    assert set(m1["tables_written"]) == {"docs", "postings", "term_stats"}
    assert sum(r["n_postings"] for r in m1["lineage"]) == \
        built_index.postings.agg(F.sum("n_in_block")).collect()[0][0]
    assert all("bytes" in r and r["bytes"] > 0 for r in m1["lineage"])

    loaded = build.load_index(spark, out)
    a = pexec.search(built_index, "merge sort", k=10).collect()
    b = pexec.search(loaded, "merge sort", k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == \
        [(r["doc_id"], r["score"]) for r in b]

    # resume: nuke one table -> only that one is rebuilt
    shutil.rmtree(os.path.join(out, "term_stats"))
    m2 = build.write_index(built_index, out)
    assert m2["tables_written"] == ["term_stats"]
    # and the segment still answers identically
    loaded2 = build.load_index(spark, out)
    c = pexec.search(loaded2, "merge sort", k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == \
        [(r["doc_id"], r["score"]) for r in c]
