"""The coordinator scoring kernel (exec._score_blocks_pd) on the committed
catalog segment, whose hot terms are salted into several posting lists:
seeded random queries and the edge cases of the AND rule, of k and of
ties rank as the brute-force oracle does; a batch scores as its queries
one at a time; and the block-max mask of single-term queries changes what
is decoded, never what is returned."""

import math
import random

import pandas as pd
import pytest
from conftest import SF_SMOKE as SF

from pysearch import codec, store
from pysearch import exec as pexec


@pytest.fixture(scope="module")
def seg(spark):
    return store.segment_index(spark, SF)


def _score(seg, queries):
    terms = sorted({t for q in queries for t in q.terms})
    return pexec._score_blocks_pd(seg, pexec._local_blocks_pandas(seg, terms),
                                  queries)


def _rows(hits, qid=0):
    h = hits[hits["query_id"] == qid]
    return list(zip(h["doc_id"].tolist(), h["score"].tolist()))


def _assert_oracle(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, s1), (_, s2) in zip(got, want):
        assert math.isclose(s1, s2, rel_tol=1e-12), (s1, s2)


def _salted(seg, oracle_index):
    """Terms with more than one posting list in the segment."""
    hot = sorted(t for t, p in oracle_index.postings.items() if len(p) > 64)
    blocks = pexec._local_blocks_pandas(seg, hot)
    lists = blocks.groupby("term").size()
    return sorted(lists[lists > 1].index)


def _random_queries(oracle_index, salted, n, seed):
    rng = random.Random(seed)
    vocab = sorted(oracle_index.postings)
    out = []
    for qid in range(n):
        terms = [rng.choice(salted if rng.random() < 0.5 else vocab)
                 for _ in range(rng.randint(1, 4))]
        if rng.random() < 0.3:
            terms.append(terms[0])                    # clause multiplicity
        out.append(pexec.Query(qid, terms, rng.choice([1, 5, 10, 100]),
                               rng.choice(["or", "and"])))
    return out


def test_random_queries_match_oracle(seg, oracle_index):
    salted = _salted(seg, oracle_index)
    assert len(salted) >= 5, "the catalog segment should salt its hot terms"
    queries = _random_queries(oracle_index, salted, 60, seed=11)
    hits = _score(seg, queries)
    assert list(hits["query_id"]) == sorted(hits["query_id"])
    for q in queries:
        _assert_oracle(_rows(hits, q.query_id),
                       oracle_index.search(q.terms, k=q.k, mode=q.mode))


@pytest.mark.parametrize("terms,mode", [
    (["merge", "merge", "sort"], "or"),        # duplicate terms
    (["value", "value"], "or"),                # one distinct term, twice
    (["merge", "sort", "sort"], "and"),
])
def test_clause_multiplicity(seg, oracle_index, terms, mode):
    got = _rows(_score(seg, [pexec.Query(0, terms, 10, mode)]))
    assert got
    _assert_oracle(got, oracle_index.search(terms, k=10, mode=mode))


def test_and_with_absent_term_is_empty(seg):
    assert _score(seg, [pexec.Query(0, ["merge", "zzqqabsent"], 10, "and")]).empty
    hits = _score(seg, [pexec.Query(0, ["merge", "zzqqabsent"], 10, "or")])
    assert len(hits) == 10


def test_k_larger_than_matches(seg, oracle_index):
    for terms, mode in ((["merge", "sort"], "or"), (["merge", "sort"], "and"),
                        (["merge"], "or")):
        want = oracle_index.search(terms, k=10**6, mode=mode)
        got = _rows(_score(seg, [pexec.Query(0, terms, 10**6, mode)]))
        assert 0 < len(got) < 500
        _assert_oracle(got, want)


def test_ties_at_the_k_boundary_break_on_doc_id(seg, oracle_index, salted_tie):
    term, k = salted_tie
    full = oracle_index.search([term], k=10**6)
    assert full[k - 1][1] == full[k][1]                # a tie across the cut
    for queries in ([pexec.Query(0, [term], k)],                    # masked
                    [pexec.Query(0, [term], k), pexec.Query(1, ["merge"])]):
        got = _rows(_score(seg, queries))
        _assert_oracle(got, full[:k])
        tied = [d for d, s in got if s == full[k][1]]
        assert tied == sorted(tied)


@pytest.fixture(scope="module")
def salted_tie(seg, oracle_index):
    """(salted term, k) whose k-th and (k+1)-th best scores tie."""
    for term in _salted(seg, oracle_index):
        full = oracle_index.search([term], k=10**6)
        for i in range(1, len(full) - 1):
            if full[i][1] == full[i - 1][1]:
                return term, i
    pytest.fail("no tie at a salted term")


def test_empty_block_frame(seg):
    empty = pd.DataFrame(columns=pexec.BLOCK_COLS)
    for queries in ([pexec.Query(0, ["merge"])],
                    [pexec.Query(0, ["merge"]), pexec.Query(1, ["sort"], mode="and")]):
        hits = pexec._score_blocks_pd(seg, empty, queries)
        assert hits.empty and list(hits.columns) == ["query_id", "doc_id", "score"]
        assert list(hits.dtypes.astype(str)) == ["int64", "int64", "float64"]
    assert _score(seg, [pexec.Query(0, ["zzqqabsent"])]).empty


def test_batch_equals_queries_one_at_a_time(seg, oracle_index):
    queries = _random_queries(oracle_index, _salted(seg, oracle_index), 40, seed=12)
    batch = _score(seg, queries)
    one = pd.concat([_score(seg, [q]) for q in queries], ignore_index=True)
    pd.testing.assert_frame_equal(batch, one)


@pytest.mark.parametrize("k", [1, 10, 100])
def test_block_mask_equals_no_mask(seg, oracle_index, monkeypatch, k):
    """Single-term queries score the same with and without the block-max
    mask; with it, a hot term at k=1 decodes fewer postings."""
    decoded = []
    real = codec.decode_blocks_concat

    def counting(*args, **kw):
        decoded[-1] += int(sum(args[2]))
        return real(*args, **kw)

    monkeypatch.setattr(codec, "decode_blocks_concat", counting)
    terms = _salted(seg, oracle_index) + ["merge", "sort", "hash"]

    def run():
        out = []
        for t in terms:
            decoded.append(0)
            out.append(_score(seg, [pexec.Query(0, [t], k)]))
        return out

    masked, masked_n = run(), decoded[:]
    decoded.clear()
    monkeypatch.setattr(pexec, "_block_max_scored",
                        lambda cols, rows, k, bm25: pexec._decode_scored(cols, rows, *bm25))
    full, full_n = run(), decoded[:]
    for t, a, b in zip(terms, masked, full):
        pd.testing.assert_frame_equal(a, b, obj=t)
    assert all(m <= f for m, f in zip(masked_n, full_n))
    if k == 1:
        assert sum(masked_n) < sum(full_n)
        hot = max(terms, key=lambda t: len(oracle_index.postings.get(t, ())))
        assert masked_n[terms.index(hot)] < full_n[terms.index(hot)]
