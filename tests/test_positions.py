"""Persisted positional index (r04 structural fix): the phrase family
must read a bucket-partitioned positions table, never re-tokenize the
corpus at query time, and the build-side positions table must round-trip
through write_index/load_index byte-identically with the query-side
derivation."""

import os
import random
import tempfile

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _pair_rows_spark(spark, t0, t1):
    """Spark read of both phrase legs' (term, doc_id, poss) rows: the
    content segment's positions table under the bucket and term filter
    phrase._pair_rows_pandas applies to its files."""
    from pysearch import store

    return (store.segment_index(spark, SF_SMOKE)
            .term_rows("positions", (t0, t1))
            .select("term", "doc_id", "poss"))


def test_phrase_plan_reads_persisted_positions(spark):
    """A bucket+term filtered read of the positions table and the >cap
    distributed join fallback both scan the positions parquet with a
    bucket PartitionFilter and contain NO corpus scan / re-tokenize
    (no documents.parquet, no regexp_replace, no posexplode Generate)."""
    from pysearch import phrase

    for df in (_pair_rows_spark(spark, "merge", "sort"),
               phrase._phrase_pair_join(spark, SF_SMOKE,
                                        "merge", "sort", 0)):
        plan = _plan_of(df)
        assert "documents.parquet" not in plan
        assert "regexp_replace" not in plan.lower()
        # bucket pruning: equality legs print "isnotnull(bucket…",
        # the IN-list probe prints "bucket#N IN (…)"
        pf = plan.split("PartitionFilters: [", 1)
        assert len(pf) == 2 and "bucket" in pf[1][:60], plan
        assert "pysearch_positions" in plan or "FileScan parquet" in plan


def test_phrase_local_gather_equals_join_path(spark):
    """The driver-local intersection (selective phrases, ONE scan job)
    returns exactly the distributed array-join relation, for both exact
    and sloppy phrases."""
    from pysearch import phrase

    for slop in (0, 2):
        local = phrase._phrase_pair("merge", "sort", slop)(
            spark, SF_SMOKE).collect()
        join = phrase._phrase_pair_join(
            spark, SF_SMOKE, "merge", "sort", slop).collect()
        assert [tuple(r) for r in local] == [tuple(r) for r in join]


def test_span_plan_reads_persisted_positions(spark):
    from pysearch import span

    df = span.REGISTRY["q_span_near"].fn(spark, SF_SMOKE)
    plan = _plan_of(df)
    assert "documents.parquet" not in plan
    assert "regexp_replace" not in plan.lower()
    assert "PartitionFilters: [isnotnull(bucket" in plan


def test_positions_store_matches_posexplode(spark):
    """The persisted flat view == the direct posexplode derivation
    (same (doc_id, pos, term) tuples)."""
    from pysearch import analysis, phrase
    from pysearch.registry import tbl

    got = {(r["doc_id"], r["pos"], r["term"])
           for r in phrase.positions(spark, SF_SMOKE).collect()}
    d = tbl(spark, SF_SMOKE, "documents")
    want = {(r["doc_id"], r["pos"], r["term"]) for r in
            d.select("doc_id",
                     F.posexplode(analysis.tokens_expr(F.col("text")))
                     .alias("pos", "term")).collect()}
    assert got == want


def _assert_one_bucket_rule(idx):
    """Every postings and positions row of idx sits in the bucket
    Index.bucket names for its term."""
    for table in ("postings", "positions"):
        df = getattr(idx, table)
        if df is None:
            continue
        rows = df.select("term", "bucket").distinct().collect()
        assert rows, table
        wrong = [tuple(r) for r in rows if r["bucket"] != idx.bucket(r["term"])]
        assert not wrong, (table, wrong[:5])


def test_bucket_of_matches_spark_crc32(spark):
    """The driver's Index.bucket equals the Spark column build.bucket_col
    for literal terms (the partition-pruning predicate depends on it),
    and every postings and positions row of a built (committed), a
    merged and a compacted segment sits in the bucket Index.bucket
    names: one term→bucket rule for both tables and every writer."""
    from pysearch import build, merge, store, versioning

    seg = store.segment_index(spark, SF_SMOKE)
    terms = ["mergeSort", "camelCase", "http2", "value", "naïve", "日本語"]
    rows = (spark.createDataFrame([(t,) for t in terms], "term string")
            .select("term", build.bucket_col(F.col("term"), seg.n_buckets)
                    .alias("b")).collect())
    for r in rows:
        assert seg.bucket(r["term"]) == r["b"], r["term"]
    _assert_one_bucket_rule(seg)

    corpus = build.corpus_from_documents(spark, SF_SMOKE)
    # salt_threshold=200: the merge takes both its fast and re-salt paths
    kw = dict(n_buckets=8, salt_threshold=200, n_salts=4, cache=False)
    halves = [build.build_index(spark, corpus.where(F.col("doc_id") % 2 == p),
                                **kw) for p in (0, 1)]
    _assert_one_bucket_rule(merge.merge_indexes(spark, halves, cache=False))

    view = versioning.delete_doc(versioning.open_view(seg), 3)
    _assert_one_bucket_rule(versioning.compact(view, cache=False))


def test_build_with_positions_roundtrip(spark):
    """build_index(with_positions=True) -> write_index -> load_index:
    the positions table persists, partitioned by bucket, and equals the
    in-memory derivation row-for-row."""
    from pysearch import build

    corpus = build.corpus_from_documents(spark, SF_SMOKE)
    idx = build.build_index(spark, corpus, n_buckets=8, salt_threshold=50,
                            n_salts=4, with_positions=True)
    assert idx.positions is not None
    with tempfile.TemporaryDirectory(prefix="pysearch_seg_") as d:
        build.write_index(idx, d)
        assert os.path.isdir(os.path.join(d, "positions"))
        # partition layout: bucket=* dirs
        parts = [p for p in os.listdir(os.path.join(d, "positions"))
                 if p.startswith("bucket=")]
        assert parts, "positions not partitioned by bucket"
        loaded = build.load_index(spark, d)
        assert loaded.positions is not None
        a = {(r["term"], r["doc_id"], tuple(r["poss"]))
             for r in idx.positions.collect()}
        b = {(r["term"], r["doc_id"], tuple(r["poss"]))
             for r in loaded.positions.collect()}
        assert a == b


def test_tree_phrase_uses_persisted_positions(spark):
    """search_tree's PhraseNode leg (exec._phrase_docs) over a committed
    segment built with positions reads its positional postings —
    bucket-pruned scan, no corpus re-tokenize — and returns exactly the
    docs the forward-index fallback derivation returns."""
    import dataclasses

    from pysearch import build
    from pysearch import exec as pexec

    corpus = build.corpus_from_documents(spark, SF_SMOKE)
    idx = build.build_index(spark, corpus, n_buckets=8, salt_threshold=50,
                            n_salts=4, with_positions=True)
    no_pos = dataclasses.replace(idx, positions=None)
    fallback = {r["doc_id"] for r in
                pexec._phrase_docs(no_pos, ["merge", "sort"], 1).collect()}

    with tempfile.TemporaryDirectory(prefix="pysearch_seg_") as d:
        build.write_index(idx, d)
        df = pexec._phrase_docs(build.load_index(spark, d),
                                ["merge", "sort"], 1)
        plan = _plan_of(df)
        assert "documents.parquet" not in plan
        assert "regexp_replace" not in plan.lower()
        assert "PartitionFilters: [isnotnull(bucket" in plan
        got = {r["doc_id"] for r in df.collect()}
    assert got == fallback
    assert got, "phrase 'merge sort' should match at sf0.001"


def test_phrase_pyarrow_fast_path(spark):
    """The phrase pair gather is a coordinator pyarrow read of the
    committed segment (no Spark scan job) — same rows as a Spark read
    under the same filter, same final relation as the distributed join;
    above the cap it signals the join fallback."""
    from pysearch import phrase

    rows = phrase._pair_rows_pandas(spark, SF_SMOKE, "merge", "sort")
    assert rows is not False, "fast path must engage below the cap"
    got = {(r["term"], int(r["doc_id"]), tuple(r["poss"]))
           for r in rows.to_pylist()}
    want = {(r["term"], r["doc_id"], tuple(r["poss"])) for r in
            _pair_rows_spark(spark, "merge", "sort").collect()}
    assert got == want

    local = phrase._phrase_pair("merge", "sort", 0)(spark, SF_SMOKE)
    join = phrase._phrase_pair_join(spark, SF_SMOKE, "merge", "sort", 0)
    assert [tuple(r) for r in local.collect()] \
        == [tuple(r) for r in join.collect()]


def test_phrase_pyarrow_cap_falls_back(spark, monkeypatch):
    from pysearch import phrase

    monkeypatch.setattr(phrase, "LOCAL_MAX_PAIR_ROWS", 0)
    assert phrase._pair_rows_pandas(
        spark, SF_SMOKE, "merge", "sort") is False


def test_mm_phrase_empty_when_term_absent(spark):
    """_mm_phrase guard: absent member term -> empty frame, no error."""
    from pysearch.phrase import _mm_phrase

    out = _mm_phrase("zzqqxyzzy", "sort", 5)(spark, SF_SMOKE)
    assert out.count() == 0


def test_positions_rows_per_term_equal_df(spark):
    """A term's positions rows are its (term, doc) rows, so their count is
    its df in term_stats: phrase._pair_rows_pandas bounds its read by the
    legs' Σ df instead of counting the rows."""
    from pysearch import store

    seg = store.segment_index(spark, SF_SMOKE)
    rows = {r["term"]: r["count"] for r in
            seg.positions.groupBy("term").count().collect()}
    df = {r["term"]: r["df"] for r in
          seg.term_stats.select("term", "df").collect()}
    assert rows and rows == df


def _token_oracle(doc_tokens, t0, t1, slop):
    """(doc_id, n_occurrences), doc_id ascending: t0 at i and t1 at
    i+1..i+1+slop of a doc's post-analysis token stream."""
    out = []
    for d in sorted(doc_tokens):
        toks = doc_tokens[d]
        n = sum(toks[j] == t1 for i, t in enumerate(toks) if t == t0
                for j in range(i + 1, min(i + 2 + slop, len(toks))))
        if n:
            out.append((d, n))
    return out


def test_phrase_local_join_oracle_differential(spark):
    """Seeded differential on the catalog segment: for random term pairs
    (adjacent bigrams, same-term pairs and unrelated pairs) at slop 0, 1
    and 3, the local pair kernel, the distributed join and a token-stream
    oracle (analysis.analyze, stopwords removed, as positions are built)
    return identical rows."""
    import pandas as pd

    from pysearch import analysis, phrase

    texts = pd.read_parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    doc_tokens = {int(d): analysis.analyze(t)
                  for d, t in zip(texts["doc_id"], texts["text"])}
    vocab = sorted({t for toks in doc_tokens.values() for t in toks})
    bigrams = sorted({p for toks in doc_tokens.values()
                      for p in zip(toks, toks[1:])})
    rng = random.Random(20261020)
    pairs = (rng.sample(bigrams, 24)
             + [(t, t) for t in rng.sample(vocab, 8)]
             + [tuple(rng.sample(vocab, 2)) for _ in range(10)])
    assert len(pairs) >= 40

    one_leg_only = 0
    for t0, t1 in pairs:
        d0, d1 = ({d for d, toks in doc_tokens.items() if t in toks}
                  for t in (t0, t1))
        one_leg_only += bool(d0 ^ d1)
        for slop in (0, 1, 3):
            want = _token_oracle(doc_tokens, t0, t1, slop)
            local = [tuple(r) for r in
                     phrase._phrase_pair(t0, t1, slop)(spark, SF_SMOKE).collect()]
            join = [tuple(r) for r in phrase._phrase_pair_join(
                spark, SF_SMOKE, t0, t1, slop).collect()]
            assert local == want, (t0, t1, slop)
            assert join == want, (t0, t1, slop)
    assert one_leg_only, "no pair has docs that hold only one leg"


@pytest.mark.parametrize("legs", [("merge", "zzqqxyzzy"),
                                  ("zzqqxyzzy", "merge"),
                                  ("zzqqxyzzy", "qqzzyxzzy")])
def test_phrase_absent_leg_is_empty_local_relation(spark, legs):
    from pysearch import phrase

    df = phrase._phrase_pair(*legs, 0)(spark, SF_SMOKE)
    assert df.collect() == []
    assert "LocalTableScan" in _plan_of(df)


def test_pair_count_wide_doc_ids_and_sliced_poss():
    """The kernel on synthetic Arrow rows: doc_ids past 2**31 (the key
    holds the doc's rank, not its id) and a poss chunk that is a slice of
    a longer list array (non-zero offset), against a per-doc count."""
    from pysearch import phrase

    big = 2**31
    docs = [big + 7, 3, big + 7, 3, 2**40, 2**40, 5]
    terms = ["a", "a", "b", "b", "a", "b", "a"]
    poss = [[0, 4, 9], [2], [1, 5, 6, 11], [3, 8], [10], [12], [1]]
    full = pa.array([[99, 98]] * 2 + poss, type=pa.list_(pa.int32()))
    sliced = full.slice(2)
    assert sliced.offset == 2
    rows = pa.table({"term": terms, "doc_id": pa.array(docs, pa.int64()),
                     "poss": sliced})

    def reference(t0, t1, slop):
        legs = {}
        for d, t, p in zip(docs, terms, poss):
            legs.setdefault(d, {})[t] = p
        out = []
        for d in sorted(legs):
            p0, p1 = legs[d].get(t0, []), legs[d].get(t1, [])
            n = sum(1 for x in p0 for y in p1 if x + 1 <= y <= x + 1 + slop)
            if n:
                out.append((d, n))
        return out

    for t0, t1 in (("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")):
        for slop in (0, 1, 3):
            got = phrase._pair_count(rows, t0, t1, slop)
            assert list(got.columns) == ["doc_id", "n_occurrences"]
            assert list(zip(got["doc_id"].tolist(),
                            got["n_occurrences"].tolist())) \
                == reference(t0, t1, slop), (t0, t1, slop)
    assert reference("a", "b", 0) == [(3, 1), (big + 7, 2)]
