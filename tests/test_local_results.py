"""Coordinator results are local relations: below the caps, search(),
search_view and the phrase pair build their rows on the driver and return
them through exec.local_frame, an Arrow-built LocalTableScan. Its
collect() runs no Spark job, its plan has no Sort and no Exchange, and
its rows come back in order. Above the caps (forced by setting them to
0) the distributed paths return the same answers."""

import os

import pandas as pd
import pytest
from conftest import SF_SMOKE as SF
from pyspark.sql import types as T

from pysearch import analysis, phrase, store, versioning
from pysearch import exec as pexec

TEXT = "value merge sort"


@pytest.fixture(scope="module")
def seg(spark):
    idx = store.segment_index(spark, SF)
    pexec.term_meta(idx, ["merge"])  # warm the terms dictionary
    return idx


@pytest.fixture(scope="module")
def deleted(oracle_index):
    """The current #1 of TEXT: deleting it changes the view's top-k."""
    return oracle_index.search(analysis.analyze(TEXT), k=1)[0][0]


@pytest.fixture(scope="module")
def view(seg, deleted):
    return versioning.delete_doc(versioning.open_view(seg), deleted)


@pytest.fixture(scope="module")
def doc_tokens():
    pdf = pd.read_parquet(os.path.join(SF, "documents.parquet"))
    return {int(d): analysis.analyze(t) for d, t in zip(pdf["doc_id"], pdf["text"])}


def _queries(spark, seg, view):
    return {
        "search": lambda: pexec.search(seg, TEXT, k=10),
        "search_and": lambda: pexec.search(seg, "merge sort", k=10, mode="and"),
        "search_view": lambda: versioning.search_view(view, TEXT, k=10),
        "phrase_slop0": lambda: phrase._phrase_pair("merge", "sort", 0)(spark, SF),
        "phrase_slop2": lambda: phrase._phrase_pair("merge", "sort", 2)(spark, SF),
    }


def _phrase_oracle(doc_tokens, t0, t1, slop):
    """(doc_id, n_occurrences) by doc_id: pairs t0 at i, t1 at i+1..i+1+slop
    of the post-analysis token stream."""
    out = []
    for d in sorted(doc_tokens):
        toks = doc_tokens[d]
        n = sum(toks[j] == t1 for i, t in enumerate(toks) if t == t0
                for j in range(i + 1, min(i + 2 + slop, len(toks))))
        if n:
            out.append((d, n))
    return out


def test_local_results_run_zero_jobs_without_sort(spark, seg, view):
    sc = spark.sparkContext
    for name, make in _queries(spark, seg, view).items():
        make().collect()                                  # warm
        before = len(sc.statusTracker().getJobIdsForGroup(None))
        df = make()
        df.collect()
        after = len(sc.statusTracker().getJobIdsForGroup(None))
        assert after == before, f"{name} scheduled Spark jobs"
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, (name, plan)
        assert "Sort" not in plan and "Exchange" not in plan, (name, plan)


@pytest.mark.parametrize("side", ["local", "distributed"])
def test_local_results_ordered_and_equal_oracle(spark, seg, view, deleted,
                                                oracle_index, doc_tokens,
                                                monkeypatch, side):
    if side == "distributed":
        monkeypatch.setattr(pexec, "LOCAL_MAX_POSTINGS", 0)
        monkeypatch.setattr(phrase, "LOCAL_MAX_PAIR_ROWS", 0)
    got = {name: [tuple(r) for r in make().collect()]
           for name, make in _queries(spark, seg, view).items()}

    def ranked(terms, k, mode="or", drop=()):
        hits = oracle_index.search(terms, k=k + len(drop), mode=mode)
        return [h for h in hits if h[0] not in drop][:k]

    want = {
        "search": ranked(analysis.analyze(TEXT), 10),
        "search_and": ranked(["merge", "sort"], 10, "and"),
        "search_view": ranked(analysis.analyze(TEXT), 10, drop={deleted}),
        "phrase_slop0": _phrase_oracle(doc_tokens, "merge", "sort", 0),
        "phrase_slop2": _phrase_oracle(doc_tokens, "merge", "sort", 2),
    }
    assert deleted not in [d for d, _ in got["search_view"]]
    for name, rows in got.items():
        assert rows, name
        assert [d for d, _ in rows] == [d for d, _ in want[name]], name
        assert [s for _, s in rows] == pytest.approx(
            [s for _, s in want[name]], rel=1e-9), name
        key = ((lambda r: r[0]) if name.startswith("phrase")
               else (lambda r: (-r[1], r[0])))
        assert rows == sorted(rows, key=key), name


def test_local_frame_parses_a_ddl_schema_once(spark, monkeypatch):
    """local_frame parses each DDL schema string once per process
    (StructType.fromDDL is a round trip to the JVM's parser); the frames
    built from the cached schema are unchanged."""
    calls = []
    real = T.StructType.fromDDL

    def counting(ddl):
        calls.append(ddl)
        return real(ddl)

    monkeypatch.setattr(T.StructType, "fromDDL", staticmethod(counting))
    ddl = "ddl_once_id long, ddl_once_score double"
    frames = [pexec.local_frame(spark, [(1, 0.5), (2, 0.25)], ddl)
              for _ in range(2)]
    assert calls == [ddl]
    for df in frames:
        assert df.schema == real(ddl)
        assert [tuple(r) for r in df.collect()] == [(1, 0.5), (2, 0.25)]


def test_local_batch_is_one_ordered_local_relation(spark, seg):
    """search_many's local strategy: ordered by query_id, then (score
    desc, doc_id asc); an empty batch is a local relation too."""
    qs = [pexec.Query(1, ["sort", "value"], 5), pexec.Query(0, ["merge"], 5)]
    df = pexec.search_many(seg, qs, method="local")
    rows = [tuple(r) for r in df.collect()]
    assert rows == sorted(rows, key=lambda r: (r[0], -r[2], r[1]))
    assert [r[0] for r in rows] == [0] * 5 + [1] * 5
    empty = pexec.search_many(seg, [pexec.Query(0, [])])
    plan = empty._jdf.queryExecution().executedPlan().toString()
    assert empty.collect() == [] and "LocalTableScan" in plan


@pytest.mark.parametrize("key", ["scroll_pit", "reindex"])
def test_driver_built_rows_are_local_relations(spark, key):
    """Registry keys that assemble their answer on the driver return it
    through exec.local_frame: its collect() runs no Spark job and its plan
    is a LocalTableScan, not an RDD scan of a tuple list."""
    from pysearch.ingest import reindex_op
    from pysearch.relational import scroll_pit

    make = {"scroll_pit": scroll_pit, "reindex": reindex_op}[key]
    sc = spark.sparkContext
    df = make(spark, SF)
    before = len(sc.statusTracker().getJobIdsForGroup(None))
    rows = df.collect()
    assert len(sc.statusTracker().getJobIdsForGroup(None)) == before, key
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert rows and "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
