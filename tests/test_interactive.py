"""Interactive coordinator path (r05 brief item 6): pyarrow read of the
pruned posting bucket dirs + the in-process coordinator kernel —
rank-identical to the Spark path and zero Spark jobs once the terms
dictionary is warm."""

import pytest

from pysearch import analysis, store
from pysearch import exec as pexec

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def seg(spark):
    idx = store.segment_index(spark, SF)
    pexec.term_meta(idx, ["merge"])  # warm the terms dictionary
    return idx


CASES = [
    ("merge", "or", 10),
    ("value", "or", 10),               # hot term
    ("value merge sort", "or", 10),
    ("merge sort", "and", 10),
    ("value table part hash", "and", 10),
    ("merge zzqqabsent", "and", 10),   # AND with an absent term -> empty
    ("zzqqabsent", "or", 10),          # absent term -> empty
    ("the a to", "or", 10),            # stopword-only -> empty
    ("value merge", "or", 100),        # deep k
]


def _spark_rows(idx, text, mode, k):
    return [(int(r["doc_id"]), round(float(r["score"]), 6))
            for r in pexec.search(idx, text, k=k, mode=mode).collect()]


def _inter_rows(idx, text, mode, k):
    pdf = pexec.search_interactive(idx, text, k=k, mode=mode)
    return [(int(d), round(float(s), 6))
            for d, s in zip(pdf["doc_id"], pdf["score"])]


@pytest.mark.parametrize("text,mode,k", CASES)
def test_interactive_rank_identical(spark, seg, oracle_index, text, mode, k):
    rows = _inter_rows(seg, text, mode, k)
    assert rows == _spark_rows(seg, text, mode, k)
    assert [d for d, _ in rows] == [d for d, _ in oracle_index.search(
        analysis.analyze(text), k=k, mode=mode)]


def test_interactive_runs_zero_spark_jobs(spark, seg):
    """Once the dictionary is warm, the interactive path must not
    schedule any Spark job (the whole point: the 0.2-0.4 s single-query
    floor was job dispatch)."""
    sc = spark.sparkContext
    pexec.search_interactive(seg, "value merge sort", k=10)  # warm codegen
    before = len(sc.statusTracker().getJobIdsForGroup(None))
    for _ in range(3):
        pexec.search_interactive(seg, "value merge sort", k=10)
        pexec.search_interactive(seg, "merge sort", k=10, mode="and")
        pexec.search_interactive(seg, "the a to", k=10)  # stopword-only
        pexec.search_interactive(seg, "zzqqabsent", k=10)
        pexec.count_matches(seg, "merge sort")
        pexec.count_matches(seg, "merge sort", mode="and")
        pexec.count_matches(seg, "zzqqabsent")
    after = len(sc.statusTracker().getJobIdsForGroup(None))
    assert after == before, "interactive path scheduled Spark jobs"


def test_interactive_falls_back_without_disk(spark, built_index):
    """In-memory segments (no disk_path) read their blocks with one narrow
    collect instead of pyarrow and still return the same ranking."""
    idx = built_index
    assert getattr(idx, "disk_path", None) is None
    assert _inter_rows(idx, "merge sort", "or", 10) \
        == _spark_rows(idx, "merge sort", "or", 10)


def test_count_matches_pyarrow_parity(spark, seg, built_index):
    """count_matches over the disk-backed segment (pyarrow gather) ==
    over the in-memory segment (one narrow collect)."""
    for text, mode in [("merge sort", "or"), ("merge sort", "and"),
                       ("value", "or"), ("zzqqabsent", "and")]:
        assert pexec.count_matches(seg, text, mode=mode) \
            == pexec.count_matches(built_index, text, mode=mode)


COUNT_CASES = [("merge sort", "or"), ("merge sort", "and"), ("value", "or"),
               ("zzqqabsent", "or"), ("merge zzqqabsent", "and")]


def test_cap_fallbacks_match_below_cap(spark, seg, built_index, monkeypatch):
    """With LOCAL_MAX_POSTINGS at 0, count_matches (committed and in-memory
    segment) counts with the executor docID kernel and search_interactive
    runs through search(); both answer as they do below the cap."""
    counts = [pexec.count_matches(idx, text, mode=mode)
              for idx in (seg, built_index) for text, mode in COUNT_CASES]
    rows = [_inter_rows(seg, text, mode, k) for text, mode, k in CASES]
    monkeypatch.setattr(pexec, "LOCAL_MAX_POSTINGS", 0)
    assert [pexec.count_matches(idx, text, mode=mode)
            for idx in (seg, built_index) for text, mode in COUNT_CASES] == counts
    assert [_inter_rows(seg, text, mode, k) for text, mode, k in CASES] == rows


def test_lazy_term_dict_matches_full(spark, seg, monkeypatch):
    """Past TERM_DICT_CACHE_MAX terms, term_meta looks terms up one query
    at a time; a freshly loaded segment then answers as the warm one."""
    from pysearch import build

    monkeypatch.setattr(pexec, "TERM_DICT_CACHE_MAX", 0)
    fresh = build.load_index(spark, seg.disk_path)
    for text, mode, k in CASES:
        assert _spark_rows(fresh, text, mode, k) == _spark_rows(seg, text, mode, k)
    assert not fresh.__dict__.get("_term_cache_full")
