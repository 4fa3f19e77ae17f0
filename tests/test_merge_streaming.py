"""Segment merge + streaming ingest: merge(build(A), build(B)) must be
byte-identical to build(A ∪ B); streaming micro-batches must converge to
the same searchable index as one batch build."""

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _full_corpus(spark):
    from pysearch import build

    return build.corpus_from_documents(spark, SF)


def _postings_key(df):
    return sorted(
        (r["term"], r["salt"], r["block_id"], r["df"], r["n_in_block"],
         r["first_doc_id"], bytes(r["docid_gaps"]), bytes(r["tfs_enc"]),
         bytes(r["norms_enc"]), r["block_max_tf"],
         round(r["block_max_score"], 12), r["bucket"])
        for r in df.collect())


#: the threshold sits between the halves' df (~180-215) and the merged
#: df (~375-415) of the corpus's hot terms: a term salted in both halves
#: keeps its n_salts (fast path), the rest are salted only once merged
#: (re-salt path)
_SPLIT_KW = dict(n_buckets=8, salt_threshold=200, n_salts=4)


@pytest.fixture(scope="module")
def split_inputs(spark):
    """The corpus built as two segments, even and odd doc_ids."""
    from pysearch import build

    corpus = _full_corpus(spark)
    return [build.build_index(spark, corpus.where(F.col("doc_id") % 2 == p),
                              **_SPLIT_KW) for p in (0, 1)]


@pytest.fixture(scope="module")
def split_build(spark, split_inputs):
    from pysearch import build, merge

    merged = merge.merge_indexes(spark, split_inputs)
    full = build.build_index(spark, _full_corpus(spark), **_SPLIT_KW)
    return merged, full


def test_merge_stats_equal_full_build(split_build):
    merged, full = split_build
    assert merged.stats.n_docs == full.stats.n_docs
    assert merged.stats.sum_dl == full.stats.sum_dl
    ts_m = {r["term"]: (r["df"], r["cf"], r["n_salts"])
            for r in merged.term_stats.collect()}
    ts_f = {r["term"]: (r["df"], r["cf"], r["n_salts"])
            for r in full.term_stats.collect()}
    assert ts_m == ts_f


def test_merge_postings_byte_identical(split_build):
    merged, full = split_build
    assert _postings_key(merged.postings) == _postings_key(full.postings)


def test_merge_queries_rank_identical(spark, split_build):
    from pysearch import exec as pexec

    merged, full = split_build
    for text, mode in [("value merge sort", "or"), ("merge sort", "and")]:
        hm = [(r["doc_id"], round(r["score"], 10))
              for r in pexec.search(merged, text, k=10, mode=mode).collect()]
        hf = [(r["doc_id"], round(r["score"], 10))
              for r in pexec.search(full, text, k=10, mode=mode).collect()]
        assert hm == hf


def test_merge_plan_has_no_per_term_group(split_build):
    """Scale guard (r01 plan audit): the merge must NOT funnel a whole
    term through one task — no groupBy(term).applyInPandas
    (FlatMapGroupsInPandas) may appear; re-encode runs partition-wise
    after a (term, salt) repartition."""
    merged, _ = split_build
    plan = merged.postings._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" in plan


def test_merge_exercises_both_paths(split_inputs, split_build):
    """The odd/even split drops per-segment df below the salt threshold
    for some merged-salted terms (re-salt path) while leaving unsalted
    terms salt-stable (fast path) — both kernels must contribute."""
    merged, _ = split_build
    old = [dict(ix.term_stats.select("term", "n_salts").collect())
           for ix in split_inputs]
    new = dict(merged.term_stats.select("term", "n_salts").collect())
    fast = {t for t, n in new.items() if all(o.get(t) == n for o in old)}
    resalt = {t for t, n in new.items()
              if any(t in o and o[t] != n for o in old)}
    written = {r["term"] for r in
               merged.postings.select("term").distinct().collect()}
    assert fast & written, "no term kept its n_salts in every input"
    assert resalt & written, "no term changed its n_salts"


def test_merge_adaptive_broadcast_by_vocab(spark):
    """broadcast_dims=None (default) is ADAPTIVE (r03 advice item 6):
    vocab under the threshold -> the term-dim join broadcasts; a
    threshold of 0 (vocab 'too big') -> shuffle join, no broadcast of
    the merged term dim anywhere in the postings plan."""
    from pysearch import build, merge

    corpus = _full_corpus(spark)
    # split/params deliberately DIFFERENT from the split_build fixture:
    # identical subplans would be substituted by the CacheManager with
    # the fixture's persisted frames, whose physical plans were compiled
    # under the default (broadcast-happy) conf
    a = corpus.where(F.col("doc_id") < 250)
    b = corpus.where(F.col("doc_id") >= 250)
    # inputs built WITHOUT explicit broadcasts (and under the disabled
    # auto-broadcast conf below) so any BroadcastHashJoin in the merged
    # plan can only come from merge's own term-dim join
    kw = dict(n_buckets=4, salt_threshold=60, n_salts=2,
              broadcast_dims=False, cache=False)

    # disable Catalyst's own size-based auto-broadcast so the plan shows
    # ONLY what the adaptive default injects (at test scale everything
    # is small enough for AQE to broadcast regardless of the hint)
    saved = {k: spark.conf.get(k, None) for k in
             ("spark.sql.autoBroadcastJoinThreshold",
              "spark.sql.adaptive.autoBroadcastJoinThreshold")}
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        ia = build.build_index(spark, a, **kw)
        ib = build.build_index(spark, b, **kw)
        small = merge.merge_indexes(spark, [ia, ib], cache=False)
        plan_small = (small.postings._jdf.queryExecution()
                      .executedPlan().toString())
        assert "BroadcastHashJoin" in plan_small  # explicit hint fired

        big = merge.merge_indexes(spark, [ia, ib], cache=False,
                                  broadcast_vocab_max=0)
        plan_big = (big.postings._jdf.queryExecution()
                    .executedPlan().toString())
        assert "BroadcastHashJoin" not in plan_big  # shuffle join above cap
        # merged output identical either way
        assert _postings_key(small.postings) == _postings_key(big.postings)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_streaming_ingest_converges(spark, tmp_path):
    """Two corpus files arrive as a stream -> segments; the merged reader
    view answers queries identically to a one-shot batch build."""
    from pysearch import build, exec as pexec, streaming

    corpus = _full_corpus(spark).limit(200).cache()
    src = str(tmp_path / "incoming")
    out = str(tmp_path / "segments")
    os.makedirs(src, exist_ok=True)
    corpus.where(F.col("doc_id") < 100).coalesce(1).write.mode("append").parquet(src)
    streaming.stream_ingest(spark, src, out, n_buckets=8)
    corpus.where(F.col("doc_id") >= 100).coalesce(1).write.mode("append").parquet(src)
    streaming.stream_ingest(spark, src, out, n_buckets=8)

    segs = streaming.load_segments(spark, out)
    assert len(segs) >= 2          # one per micro-batch commit
    view = streaming.searchable_index(spark, out)
    batch = build.build_index(spark, corpus, n_buckets=8)
    assert view.stats.n_docs == batch.stats.n_docs == 200
    hs = [(r["doc_id"], round(r["score"], 10))
          for r in pexec.search(view, "value merge", k=10).collect()]
    hb = [(r["doc_id"], round(r["score"], 10))
          for r in pexec.search(batch, "value merge", k=10).collect()]
    assert hs == hb
